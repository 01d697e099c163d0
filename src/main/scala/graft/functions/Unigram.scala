package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM subword segmentation AND vocabulary learning (Kudo, ACL
  * 2018 — the SentencePiece unigram model): segment every word into the
  * maximum-likelihood sequence of vocabulary pieces under a unigram piece
  * LM, and LEARN the piece inventory by hard-EM rounds with pruning. The
  * BPE family ([[Bpe]]) covers the merge-learned tokenizer; this is the
  * other production tokenizer family — segmentation as global
  * optimization rather than greedy merge replay.
  *
  * Model: a piece vocabulary scored by counts; p(piece) = cnt / total,
  * quantized to micronats (floor(ln * 1e6 + 0.5) — the perplexity-family
  * convention, engine-exact). [[viterbiSegment]]'s seed model is every
  * character n-gram (n <= maxPieceLen) of the corpus' words, scored by
  * corpus occurrence count — the DP is always feasible and needs no UNK.
  * [[learn]] then runs Kudo's loop in its deterministic HARD-EM form
  * (documented variant: the E-step takes Viterbi-best counts instead of
  * full lattice marginals — exactly reproducible, which is what lets the
  * DuckDB oracle replay every round): each round re-segments the distinct
  * words under the current model, re-counts pieces from the best
  * segmentations (weighted by word frequency), and PRUNES pieces used
  * fewer than `minCount` times — single characters are never pruned
  * (coverage: the DP stays feasible) and floor at count 1.
  *
  * Decode per word: best(0) = 0,
  *   best(i) = max over l in 1..min(maxPieceLen, i) of
  *     best(i - l) + score(word[i-l+1 .. i])
  * (absent pieces contribute no candidate — the score map simply lacks
  * the key and the null candidate is skipped); ties resolve to the
  * LONGEST last piece (the candidate struct compares (score, l)
  * lexicographically — deterministic in both engines).
  *
  * Scale shape (the [[Bpe.learn]] discipline): ONE corpus-sized shuffle
  * (the word histogram); every round's gram census, score join, DP fold,
  * and piece re-count run over DISTINCT WORDS — type-level, model-sized;
  * the round count is a small constant. The DP itself is a row-local
  * `aggregate` fold over positions carrying (best[], ptr[]) — O(len *
  * maxPieceLen) per distinct word, no explode, no per-position shuffle.
  * At 100 TB the corpus is touched once; everything after is
  * proportional to vocabulary.
  *
  * The reference engine has no tokenizer stage (`datacrawler.py` forwards
  * rows as-is); this is part of the training-data extension surface.
  */
object Unigram {

  /** Every n-gram occurrence (n <= maxPieceLen) of `word` — flatten
    * (transform x transform), occurrences not distinct. */
  private def gramsOf(maxPieceLen: Int): Column = flatten(transform(
    sequence(lit(1), length(col("word"))),
    i => transform(
      sequence(lit(1), least(lit(maxPieceLen),
        length(col("word")) - i + 1)),
      l => col("word").substr(i, l))))

  /** Frequency-weighted gram census over a word histogram:
    * (piece, cnt). The census shuffle is gram-keyed and model-sized. */
  private def gramCensus(wh: DataFrame, maxPieceLen: Int): DataFrame =
    wh.select(explode(gramsOf(maxPieceLen)).as("piece"), col("freq"))
      .groupBy("piece").agg(sum("freq").as("cnt"))

  /** Micronat scores from a (piece, cnt) vocabulary:
    * s = floor(ln(cnt / total) * 1e6 + 0.5). */
  private def scoresOf(vocab: DataFrame): DataFrame = {
    val tot = vocab.agg(sum(col("cnt")).cast("double").as("_t"))
    vocab.crossJoin(broadcast(tot))
      .select(col("piece"),
        floor(log(col("cnt").cast("double") / col("_t")) * lit(1e6)
          + lit(0.5)).cast("long").as("s"))
  }

  /** Per-word score map (word -> map(piece -> micronat score)): distinct
    * grams only (map keys must be unique); piece-keyed shuffle join —
    * the score table is model-sized but can exceed broadcast budgets on
    * a real corpus, so let AQE pick. */
  private def wordScoreMap(wh: DataFrame, scores: DataFrame,
      maxPieceLen: Int): DataFrame =
    wh.select(col("word"),
        explode(array_distinct(gramsOf(maxPieceLen))).as("piece"))
      .join(scores, "piece")
      .groupBy("word")
      .agg(map_from_entries(collect_list(struct(col("piece"), col("s"))))
        .as("m"))

  /** Viterbi decode of every distinct word under the given piece scores:
    * (word, freq, n_pieces, score_micronats, segmented). Pieces absent
    * from `scores` yield no candidates; the caller guarantees
    * feasibility (single characters in vocabulary).
    *
    * The DP fold and backward walk run as ONE codegen'd kernel
    * ([[graft.plans.ViterbiSegment]], round 17 — guide §1.2 step 2):
    * the former HOF `aggregate` folds were interpreted
    * (CodegenFallback), every `element_at` on the score map was a
    * LINEAR scan, and the fold's `concat(acc, array(…))` rebuilt the
    * accumulator per position (O(len²) copies per word) — plus a
    * persist barrier between the DP and the walk because interpreted
    * HOFs get no CSE. The kernel does the same arithmetic
    * (long candidate sums, (score, length) lexicographic max —
    * longest last piece on ties, coalesce(l, 1) pointers) in a JVM
    * loop with a hashed map: no barrier, no per-step allocation, and
    * the three struct-field reads below are subexpression-eliminated
    * under whole-stage codegen. Parity: the unchanged oracle gates
    * (tokenize_unigram_viterbi / unigram_learn / _segment /
    * segment_soft) and BpeSpec's plain-JVM replica. */
  private def segmentWith(wh: DataFrame, scores: DataFrame,
      maxPieceLen: Int): DataFrame = {
    val wordMap = wordScoreMap(wh, scores, maxPieceLen)
    val vs = graft.plans.ViterbiSegment(col("word"), col("m"), maxPieceLen)
    wh.join(wordMap, "word")
      .select(col("word"), col("freq"), vs.as("_vs"))
      .select(col("word"), col("freq"),
        size(col("_vs").getField("ps")).cast("int").as("n_pieces"),
        col("_vs").getField("score").as("score_micronats"),
        array_join(col("_vs").getField("ps"), " ").as("segmented"))
  }

  /** Per-distinct-word Viterbi segmentation table under the SEED model
    * (all corpus n-grams scored by occurrence count):
    * (word, freq, n_pieces, score_micronats, segmented) — `segmented`
    * joins pieces with ' ' (words never contain spaces). */
  def viterbiSegment(df: DataFrame, textCol: String,
      maxPieceLen: Int = 4): DataFrame = {
    require(maxPieceLen >= 1)
    val wh = Caches.operatorPersist(Bpe.wordHistogram(df, textCol))
    segmentWith(wh, scoresOf(gramCensus(wh, maxPieceLen)), maxPieceLen)
  }

  /** LEARNED piece vocabulary after `rounds` hard-EM rounds (see object
    * doc): (piece, cnt, score_micronats, piece_len), where cnt is the
    * final round's Viterbi-best usage count (frequency-weighted over
    * distinct words; single characters floored at 1) and the score is
    * minted from the final counts. Deterministic: every round's decode
    * ties break to the longest piece, and the prune rule is a pure
    * count threshold. */
  def learn(df: DataFrame, textCol: String, maxPieceLen: Int = 4,
      rounds: Int = 2, minCount: Int = 2): DataFrame =
    learnFrom(Caches.operatorPersist(Bpe.wordHistogram(df, textCol)),
      maxPieceLen, rounds, minCount)

  /** [[learn]] over the persisted word histogram `wh`. */
  private def learnFrom(wh: DataFrame, maxPieceLen: Int, rounds: Int,
      minCount: Int): DataFrame = {
    require(maxPieceLen >= 1 && rounds >= 1 && minCount >= 1)
    val seed = Caches.operatorPersist(gramCensus(wh, maxPieceLen))
    // the full single-character inventory — never pruned (coverage)
    val chars = seed.filter(length(col("piece")) === 1)
      .select(col("piece"))
    var vocab = seed
    (1 to rounds).foreach { _ =>
      val seg = segmentWith(wh, scoresOf(vocab), maxPieceLen)
      val used = seg.select(col("freq"),
          explode(split(col("segmented"), " ")).as("piece"))
        .groupBy("piece").agg(sum("freq").as("cnt"))
      vocab = Caches.operatorPersist(
        chars.join(used, Seq("piece"), "left")
          .select(col("piece"),
            greatest(coalesce(col("cnt"), lit(0L)), lit(1L)).as("cnt"))
          .unionAll(used.filter(length(col("piece")) > 1 &&
            col("cnt") >= minCount)))
    }
    scoresOf(vocab).join(vocab, Seq("piece"))
      .select(col("piece"), col("cnt"), col("s").as("score_micronats"),
        length(col("piece")).cast("int").as("piece_len"))
  }

  /** SOFT-EM expected piece counts of one E-step (the lattice-marginal
    * half of Kudo 2018 §3.2 that [[learn]]'s documented hard-EM variant
    * replaces with Viterbi-best counts): forward/backward log-sums over
    * the segmentation lattice, expected count of each piece occurrence
    * = exp(alpha(start) + s + beta(end) - Z).
    *
    * Cross-engine exactness discipline: every alpha/beta value is
    * QUANTIZED to integer micronats at each DP step
    * (floor(logsumexp * 1e6 + 0.5) — the perplexity-family convention),
    * and each occurrence's expected count is quantized to integer
    * MICROCOUNTS (floor(e * 1e6 + 0.5)) BEFORE aggregation — so every
    * sum in the pipeline is an exact integer sum (order-free across
    * engines; a raw double sum would be partition-order-sensitive).
    * The logsumexp accumulates candidates in ascending piece-length
    * order in both engines (a sequential fold here, list order in the
    * DuckDB oracle).
    *
    * Returns (piece, cnt) with cnt in MICROCOUNTS (1e6 = one expected
    * occurrence), frequency-weighted over distinct words. */
  /** The forward/backward lattice folds and the per-(start, len)
    * occurrence expansion run as ONE codegen'd kernel
    * ([[graft.plans.LatticeOcc]], round 17 — the segmentWith note): the
    * quantized log-sum-exp accumulates candidates in ascending
    * piece-length order exactly as before (mx = max, se = Σ exp((c −
    * mx)/1e6), floor(mx + ln(se)·1e6 + 0.5)), expected microcounts are
    * floor(exp((α(i) + s + β(i+l) − Z)/1e6)·1e6 + 0.5) per occurrence,
    * and infeasible-position nulls propagate identically. The former
    * persist barrier between the folds and the expansion is gone with
    * the interpreted HOFs that needed it. Parity: the unchanged
    * unigram_learn_soft / unigram_segment_soft oracles and BpeSpec's
    * plain-JVM soft-EM replica. */
  private def softCounts(wh: DataFrame, scores: DataFrame,
      maxPieceLen: Int): DataFrame = {
    val wordMap = wordScoreMap(wh, scores, maxPieceLen)
    wh.join(wordMap, "word")
      .select(col("freq"),
        explode(graft.plans.LatticeOcc(col("word"), col("m"),
          maxPieceLen)).as("o"))
      .groupBy(col("o.piece").as("piece"))
      .agg(sum(col("o.eq") * col("freq")).as("cnt"))
  }

  /** LEARNED piece vocabulary by SOFT-EM rounds — Kudo 2018's actual
    * training loop (lattice-marginal E-step via [[softCounts]]), the
    * [[learn]] twin behind the same seed/prune scaffolding:
    * (piece, cnt_micro, score_micronats, piece_len), where cnt_micro is
    * the final round's expected usage in MICROCOUNTS (1e6 = one
    * expected occurrence; single characters floored at one occurrence)
    * and the score is minted from the final expected counts. The prune
    * rule is the same count threshold, applied to expected counts
    * (multi-char pieces under `minCount` expected occurrences drop).
    * Same scale shape as [[learn]]: one corpus-sized shuffle, every
    * round type-level over distinct words. */
  def learnSoft(df: DataFrame, textCol: String, maxPieceLen: Int = 4,
      rounds: Int = 2, minCount: Int = 2): DataFrame =
    learnSoftFrom(Caches.operatorPersist(Bpe.wordHistogram(df, textCol)),
      maxPieceLen, rounds, minCount)

  /** [[learnSoft]] over the persisted word histogram `wh`. */
  private def learnSoftFrom(wh: DataFrame, maxPieceLen: Int, rounds: Int,
      minCount: Int): DataFrame = {
    require(maxPieceLen >= 1 && rounds >= 1 && minCount >= 1)
    val seed = Caches.operatorPersist(gramCensus(wh, maxPieceLen))
    val chars = seed.filter(length(col("piece")) === 1)
      .select(col("piece"))
    // round 1 scores from the integer seed census (shared with [[learn]]);
    // later rounds from microcount vocabularies — scoresOf is a ratio,
    // so the 1e6 scaling cancels
    var vocab = seed
    (1 to rounds).foreach { _ =>
      val cnts = softCounts(wh, scoresOf(vocab), maxPieceLen)
      vocab = Caches.operatorPersist(
        chars.join(cnts, Seq("piece"), "left")
          .select(col("piece"),
            greatest(coalesce(col("cnt"), lit(0L)), lit(1000000L))
              .as("cnt"))
          .unionAll(cnts.filter(length(col("piece")) > 1 &&
            col("cnt") >= minCount * 1000000L)))
    }
    scoresOf(vocab).join(vocab, Seq("piece"))
      .select(col("piece"), col("cnt").as("cnt_micro"),
        col("s").as("score_micronats"),
        length(col("piece")).cast("int").as("piece_len"))
  }

  /** Segmentation census under the LEARNED vocabulary ([[learn]] with the
    * same parameters): (word, freq, n_pieces, score_micronats,
    * segmented). */
  def learnSegment(df: DataFrame, textCol: String, maxPieceLen: Int = 4,
      rounds: Int = 2, minCount: Int = 2): DataFrame = {
    val wh = Caches.operatorPersist(Bpe.wordHistogram(df, textCol))
    val learned = Caches.operatorPersist(
      learnFrom(wh, maxPieceLen, rounds, minCount))
    segmentWith(wh,
      learned.select(col("piece"), col("score_micronats").as("s")),
      maxPieceLen)
  }

  /** Segmentation census under the SOFT-learned vocabulary
    * ([[learnSoft]] with the same parameters) — the tokenizer Kudo's
    * actual loop ships (soft-EM training, Viterbi decode), completing
    * for the soft twin what [[learnSegment]] does for the hard one:
    * (word, freq, n_pieces, score_micronats, segmented). Same scale
    * shape: one corpus shuffle inside learnSoft, the decode type-level
    * over distinct words. */
  def segmentSoft(df: DataFrame, textCol: String, maxPieceLen: Int = 4,
      rounds: Int = 2, minCount: Int = 2): DataFrame = {
    val wh = Caches.operatorPersist(Bpe.wordHistogram(df, textCol))
    val learned = Caches.operatorPersist(
      learnSoftFrom(wh, maxPieceLen, rounds, minCount))
    segmentWith(wh,
      learned.select(col("piece"), col("score_micronats").as("s")),
      maxPieceLen)
  }

  /** Subword-regularization SAMPLING (Kudo 2018 §4): draw `nSamples`
    * segmentations per distinct word from p(seg)^alpha by
    * forward-filtering backward-sampling over the segmentation lattice
    * under the SEED model (all corpus n-grams scored by occurrence
    * count — the [[viterbiSegment]] model), the training-time
    * augmentation that exposes a model to alternative tokenizations.
    *
    * Temperature: alpha in ppm (1e6 = 1.0 = the true posterior;
    * smaller = flatter, more diverse samples). Scores are scaled ONCE
    * (s_a = floor(s * alphaPpm / 1e6 + 0.5), exact in double — |s *
    * alphaPpm| << 2^53), then the forward lattice runs the same
    * quantized log-sum-exp fold as the soft E-step.
    *
    * Determinism (the seeded-Laplace discipline, [[Stats
    * .dpNoisyCounts]]): each backward draw converts the 32-bit md5
    * slice of (seed, word, sample, step) into an integer threshold over
    * integer MICROPROB weights w_l = floor(exp((a(pos-l+1) + s_a -
    * a(pos+1)) / 1e6) * 1e6 + 0.5) — every comparison is
    * integer-vs-integer, so the DuckDB oracle replays the walk
    * bit-exactly. The max-weight candidate always survives quantization
    * (w >= 1e6/k for k candidates), so the weight sum is never zero.
    *
    * Scale shape: one corpus-sized shuffle (the word histogram); the
    * lattice and the n-step walk are row-local folds over DISTINCT
    * words — O(len * maxPieceLen) per word per sample, no explode
    * before the final per-sample unpack, no per-position shuffle.
    *
    * Returns (word, freq, sample_id, n_pieces, segmented),
    * `nSamples` rows per distinct word. */
  def sampleSegments(df: DataFrame, textCol: String,
      maxPieceLen: Int = 4, nSamples: Int = 2, alphaPpm: Long = 500000L,
      seed: String = "r17ss"): DataFrame = {
    require(maxPieceLen >= 1 && nSamples >= 1 && alphaPpm > 0)
    val wh = Caches.operatorPersist(Bpe.wordHistogram(df, textCol))
    val scores = scoresOf(gramCensus(wh, maxPieceLen))
    val wordMap = wordScoreMap(wh, scores, maxPieceLen)
    // temperature scaling, the forward lattice, and the nSamples seeded
    // backward walks run as ONE codegen'd kernel
    // ([[graft.plans.LatticeSample]], round 17 — the segmentWith note):
    // the draw replicates the HOF form exactly (s_a = floor((s ·
    // alphaPpm)/1e6 + 0.5) with the long multiply first, integer
    // microprob weights in ascending piece-length order, h =
    // last-4-md5-bytes("sseg|seed|word|k|step") mod Σw, first l whose
    // cumulative weight exceeds the draw). The former persist barrier
    // between the lattice and the walks is gone with the interpreted
    // HOFs that needed it. Parity: the unchanged unigram_sample_segments
    // oracle (a bit-exact DuckDB FFBS replay) and BpeSpec's plain-JVM
    // FFBS replica.
    wh.join(wordMap, "word")
      .select(col("word"), col("freq"),
        posexplode(graft.plans.LatticeSample(col("word"), col("m"),
          maxPieceLen, nSamples, alphaPpm, seed)).as(Seq("_k", "_ps")))
      .select(col("word"), col("freq"),
        (col("_k") + 1).cast("int").as("sample_id"),
        size(col("_ps")).cast("int").as("n_pieces"),
        array_join(col("_ps"), " ").as("segmented"))
  }
}
