package graft.queries

import graft.functions.{Packing, TextAnalysis, TextClean}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import OracleSql._

/** Text analysis and language modelling over `documents`: language id,
  * quality metrics, perplexity scorers (unigram, bigram, Kneser-Ney,
  * pretrained), BPE and unigram-LM tokenizers, normalization, chunking
  * and sequence packing. */
object TextQueries {

  /** The unigram tokenizer's seed census over `documents`: `wh` (word,
    * freq), `v0` (piece, cnt) — every 1-4-char piece with its
    * frequency-weighted count — and `grams` (word, piece), each word's
    * distinct pieces. */
  private val pieceCensusSql: String =
    """wh AS MATERIALIZED (
      |  SELECT word, CAST(count(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word
      |        FROM documents)
      |  WHERE word <> '' GROUP BY word),
      |v0 AS MATERIALIZED (
      |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
      |    SELECT freq,
      |      substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece
      |    FROM wh, unnest(generate_series(1, length(word))) AS t1(i),
      |         unnest(generate_series(1, 4)) AS t2(l)
      |    WHERE i + l - 1 <= length(word))
      |  GROUP BY piece),
      |grams AS MATERIALIZED (
      |  SELECT DISTINCT word,
      |    substr(word, CAST(i AS INT), CAST(l AS INT)) AS piece
      |  FROM wh, unnest(generate_series(1, length(word))) AS t1(i),
      |       unnest(generate_series(1, 4)) AS t2(l)
      |  WHERE i + l - 1 <= length(word))""".stripMargin

  /** The learners' head: [[pieceCensusSql]] and `ch`, the single-char
    * pieces the prune never drops. */
  private val unigramHeadSql: String =
    s"""WITH RECURSIVE
       |$pieceCensusSql,
       |ch AS MATERIALIZED (SELECT piece FROM v0 WHERE length(piece) = 1)""".stripMargin

  /** `t$r` and `sc$r` (piece, s): the micronat log-probability of every
    * piece of the vocabulary `v$r`. */
  private def pieceScoresSql(r: Int): String =
    s"""t$r AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM v$r),
       |sc$r AS MATERIALIZED (
       |  SELECT piece,
       |    CAST(floor(ln(CAST(cnt AS DOUBLE) / t) * 1e6 + 0.5)
       |      AS BIGINT) AS s
       |  FROM v$r, t$r)""".stripMargin

  /** `wm$r` (word, m): each word's piece -> score map under `sc$r`. */
  private def wordMapSql(r: Int): String =
    s"""wm$r AS MATERIALIZED (
       |  SELECT word, map_from_entries(list({'k': piece, 'v': s})) AS m
       |  FROM grams JOIN sc$r USING (piece) GROUP BY word)""".stripMargin

  /** The segment census under the vocabulary of round `r`: every word's
    * frequency and its best segmentation from [[unigramDecodeBlock]]. */
  private def segmentCensusSql(r: Int): String =
    s"""
       |SELECT w.word, h.freq, CAST(len(k.ps) AS INT) AS n_pieces,
       |  w.score_micronats, array_to_string(k.ps, ' ') AS segmented
       |FROM fin$r w JOIN wh h ON w.word = h.word
       |JOIN (SELECT word, ps FROM wk$r WHERE pos = 0) k
       |  ON w.word = k.word
       |ORDER BY w.word""".stripMargin

  /** The hard-Viterbi decode block over a vocabulary CTE v$r — shared
    * by the hard learner's oracle (every round + the segment census)
    * and the soft learner's segment census (decode under the
    * soft-learned vocabulary is plain Viterbi, the engine's
    * [[graft.functions.Unigram.segmentSoft]]). */
  private def unigramDecodeBlock(r: Int): String =
    s"""${pieceScoresSql(r)},
         |${wordMapSql(r)},
         |st$r AS (
         |  SELECT word, m, 0 AS i, [CAST(0 AS BIGINT)] AS best,
         |         CAST([] AS INT[]) AS ptr
         |  FROM wm$r
         |  UNION ALL
         |  SELECT word, m, i + 1,
         |         list_append(best, cand[1]),
         |         list_append(ptr, CAST(coalesce(cand[2], 1) AS INT))
         |  FROM (
         |    SELECT *, list_max(list_transform(
         |      generate_series(1, least(4, i + 1)),
         |      l -> CASE WHEN m[substr(word, CAST(i + 2 - l AS INT),
         |                    CAST(l AS INT))][1] IS NULL
         |                  OR best[i + 2 - l] IS NULL THEN NULL
         |           ELSE [best[i + 2 - l]
         |                   + m[substr(word, CAST(i + 2 - l AS INT),
         |                       CAST(l AS INT))][1],
         |                 CAST(l AS BIGINT)] END)) AS cand
         |    FROM st$r WHERE i < length(word))),
         |fin$r AS MATERIALIZED (
         |  SELECT word, best[length(word) + 1] AS score_micronats, ptr,
         |         CAST(length(word) AS INT) AS n
         |  FROM st$r WHERE i = length(word)),
         |wk$r AS (
         |  SELECT word, ptr, n AS pos, CAST([] AS VARCHAR[]) AS ps
         |  FROM fin$r
         |  UNION ALL
         |  SELECT word, ptr, pos - ptr[pos] AS pos,
         |         list_prepend(substr(word,
         |           CAST(pos - ptr[pos] + 1 AS INT),
         |           CAST(ptr[pos] AS INT)), ps) AS ps
         |  FROM wk$r WHERE pos > 0)""".stripMargin

  /** Unrolled DuckDB replay of [[graft.functions.Unigram.learn]] (and,
    * with `segment = true`, [[graft.functions.Unigram.learnSegment]]):
    * the seed gram census, then `rounds` hard-EM rounds — each a full
    * recursive-CTE Viterbi decode under the current scores (absent
    * pieces yield NULL candidates, skipped by list_max exactly as
    * Spark's array_max skips null structs), a frequency-weighted piece
    * re-count from the best segmentations, and the prune rule
    * (single chars floored at count 1, multi-char pieces kept at
    * cnt >= minCount). Every cross-referenced CTE is MATERIALIZED (the
    * BPE/pagerank inlining lesson). */
  private def unigramLearnOracleSql(rounds: Int, minCount: Int,
      segment: Boolean): String = {
    def pruneBlock(r: Int): String =
      s"""c${r + 1} AS MATERIALIZED (
         |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT wh.freq, unnest(k.ps) AS piece
         |    FROM (SELECT word, ps FROM wk$r WHERE pos = 0) k
         |    JOIN wh USING (word))
         |  GROUP BY piece),
         |v${r + 1} AS MATERIALIZED (
         |  SELECT ch.piece,
         |    greatest(coalesce(c${r + 1}.cnt, 0), CAST(1 AS BIGINT))
         |      AS cnt
         |  FROM ch LEFT JOIN c${r + 1} USING (piece)
         |  UNION ALL
         |  SELECT piece, cnt FROM c${r + 1}
         |  WHERE length(piece) > 1 AND cnt >= $minCount)""".stripMargin
    val roundsSql = (0 until rounds)
      .map(r => unigramDecodeBlock(r) + ",\n" + pruneBlock(r))
    if (!segment)
      (Seq(unigramHeadSql) ++ roundsSql ++ Seq(pieceScoresSql(rounds)))
        .mkString(",\n") +
        s"""
           |SELECT v$rounds.piece, v$rounds.cnt,
           |  sc$rounds.s AS score_micronats,
           |  CAST(length(v$rounds.piece) AS INT) AS piece_len
           |FROM v$rounds JOIN sc$rounds USING (piece)
           |ORDER BY piece""".stripMargin
    else
      (Seq(unigramHeadSql) ++ roundsSql ++ Seq(unigramDecodeBlock(rounds)))
        .mkString(",\n") + segmentCensusSql(rounds)
  }

  /** Oracle for [[graft.functions.Unigram.learnSoft]] — the SOFT-EM
    * (lattice-marginal) rounds. Replays, per round: the micronat score
    * mint, the forward and backward quantized log-sum-exp DPs as
    * recursive CTEs (candidates accumulate in ascending piece-length
    * order — list order here, the fold order engine-side), the
    * per-occurrence expected MICROCOUNT quantization, and the integer
    * microcount prune. Every cross-engine float surface is a single
    * floor(f(x) * 1e6 + 0.5); every sum is an exact integer sum. */
  private def unigramLearnSoftOracleSql(rounds: Int,
      minCount: Int, segment: Boolean = false): String = {
    val floorC = minCount.toLong * 1000000L
    def lseStep(cte: String, idx: String, stateList: String,
        candsSql: String, bound: String): String =
      s"""  SELECT word, m, $idx + 1,
         |    list_append($stateList, CAST(floor(CAST(mx AS DOUBLE)
         |      + ln(list_aggregate(list_transform(cs,
         |          c -> exp(CAST(c - mx AS DOUBLE) / 1e6)), 'sum')) * 1e6
         |      + 0.5) AS BIGINT))
         |  FROM (SELECT word, m, $idx, $stateList, cs, list_max(cs) AS mx
         |        FROM (SELECT *, $candsSql AS cs
         |              FROM $cte WHERE $idx < $bound))""".stripMargin
    def softBlock(r: Int): String = {
      val fwdCands =
        s"""list_filter(list_transform(
           |        generate_series(1, least(4, i + 1)),
           |        l -> CASE WHEN m[substr(word, CAST(i + 2 - l AS INT),
           |                      CAST(l AS INT))][1] IS NULL THEN NULL
           |             ELSE a[i + 2 - l]
           |                  + m[substr(word, CAST(i + 2 - l AS INT),
           |                      CAST(l AS INT))][1] END),
           |        x -> x IS NOT NULL)""".stripMargin
      val bwdCands =
        s"""list_filter(list_transform(
           |        generate_series(1, least(4, j + 1)),
           |        l -> CASE WHEN m[substr(word,
           |                      CAST(length(word) - j AS INT),
           |                      CAST(l AS INT))][1] IS NULL THEN NULL
           |             ELSE m[substr(word,
           |                      CAST(length(word) - j AS INT),
           |                      CAST(l AS INT))][1]
           |                  + b[j + 2 - l] END),
           |        x -> x IS NOT NULL)""".stripMargin
      s"""${pieceScoresSql(r)},
         |${wordMapSql(r)},
         |fw$r AS (
         |  SELECT word, m, 0 AS i, [CAST(0 AS BIGINT)] AS a FROM wm$r
         |  UNION ALL
         |${lseStep(s"fw$r", "i", "a", fwdCands, "length(word)")}),
         |bw$r AS (
         |  SELECT word, m, 0 AS j, [CAST(0 AS BIGINT)] AS b FROM wm$r
         |  UNION ALL
         |${lseStep(s"bw$r", "j", "b", bwdCands, "length(word)")}),
         |ffin$r AS MATERIALIZED (
         |  SELECT word, m, a FROM fw$r WHERE i = length(word)),
         |bfin$r AS MATERIALIZED (
         |  SELECT word, b FROM bw$r WHERE j = length(word)),
         |eo$r AS MATERIALIZED (
         |  SELECT word, piece,
         |    CAST(floor(exp(CAST(a[CAST(i AS INT)] + s
         |        + b[CAST(length(word) + 2 - i - l AS INT)]
         |        - a[CAST(length(word) + 1 AS INT)] AS DOUBLE) / 1e6)
         |      * 1e6 + 0.5) AS BIGINT) AS eq
         |  FROM (
         |    SELECT f.word, f.a, bb.b, i, l,
         |      substr(f.word, CAST(i AS INT), CAST(l AS INT)) AS piece,
         |      f.m[substr(f.word, CAST(i AS INT), CAST(l AS INT))][1] AS s
         |    FROM ffin$r f JOIN bfin$r bb USING (word),
         |         unnest(generate_series(1, length(f.word))) AS t1(i),
         |         unnest(generate_series(1, 4)) AS t2(l)
         |    WHERE i + l - 1 <= length(f.word))
         |  WHERE s IS NOT NULL),
         |c${r + 1} AS MATERIALIZED (
         |  SELECT piece, CAST(sum(eq * freq) AS BIGINT) AS cnt
         |  FROM eo$r JOIN wh USING (word) GROUP BY piece),
         |v${r + 1} AS MATERIALIZED (
         |  SELECT ch.piece,
         |    greatest(coalesce(c.cnt, 0), CAST(1000000 AS BIGINT)) AS cnt
         |  FROM ch LEFT JOIN c${r + 1} c USING (piece)
         |  UNION ALL
         |  SELECT piece, cnt FROM c${r + 1}
         |  WHERE length(piece) > 1 AND cnt >= $floorC)""".stripMargin
    }
    if (!segment)
      (Seq(unigramHeadSql) ++ (0 until rounds).map(softBlock) ++
        Seq(pieceScoresSql(rounds)))
        .mkString(",\n") +
        s"""
           |SELECT v$rounds.piece, v$rounds.cnt AS cnt_micro,
           |  sc$rounds.s AS score_micronats,
           |  CAST(length(v$rounds.piece) AS INT) AS piece_len
           |FROM v$rounds JOIN sc$rounds USING (piece)
           |ORDER BY piece""".stripMargin
    else
      // segment census under the soft-learned vocabulary: the soft
      // rounds land v$rounds, then the decode is plain hard Viterbi
      // over its minted scores — the shared decode block
      (Seq(unigramHeadSql) ++ (0 until rounds).map(softBlock) ++
        Seq(unigramDecodeBlock(rounds))).mkString(",\n") +
        segmentCensusSql(rounds)
  }

  /** DuckDB replay of [[graft.functions.Unigram.sampleSegments]] —
    * forward-filtering backward-sampling at temperature alpha under the
    * seed census model. The forward lattice is the soft oracle's
    * quantized log-sum-exp recursion over TEMPERATURE-SCALED scores;
    * the backward walk is a recursive CTE drawing each piece from the
    * integer MICROPROB weights with the md5-slice threshold — every
    * comparison integer-vs-integer, so the sampled segmentations match
    * the engine's bit-exactly. Candidate order is ascending piece
    * length in both engines (list order here, the fold order there). */
  private def unigramSampleOracleSql(nSamples: Int, alphaPpm: Long,
      seed: String): String =
    s"""WITH RECURSIVE
       |$pieceCensusSql,
       |t0 AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t FROM v0),
       |ssc AS MATERIALIZED (
       |  SELECT piece, CAST(floor(CAST(
       |      CAST(floor(ln(CAST(cnt AS DOUBLE) / t) * 1e6 + 0.5)
       |        AS BIGINT) * $alphaPpm AS DOUBLE) / 1e6 + 0.5)
       |      AS BIGINT) AS s
       |  FROM v0, t0),
       |wm AS MATERIALIZED (
       |  SELECT word, map_from_entries(list({'k': piece, 'v': s})) AS m
       |  FROM grams JOIN ssc USING (piece) GROUP BY word),
       |fw AS (
       |  SELECT word, m, 0 AS i, [CAST(0 AS BIGINT)] AS a FROM wm
       |  UNION ALL
       |  SELECT word, m, i + 1,
       |    list_append(a, CAST(floor(CAST(mx AS DOUBLE)
       |      + ln(list_aggregate(list_transform(cs,
       |          c -> exp(CAST(c - mx AS DOUBLE) / 1e6)), 'sum')) * 1e6
       |      + 0.5) AS BIGINT))
       |  FROM (SELECT word, m, i, a, cs, list_max(cs) AS mx
       |        FROM (SELECT *, list_filter(list_transform(
       |              generate_series(1, least(4, i + 1)),
       |              l -> CASE WHEN m[substr(word,
       |                        CAST(i + 2 - l AS INT),
       |                        CAST(l AS INT))][1] IS NULL THEN NULL
       |                   ELSE a[i + 2 - l]
       |                        + m[substr(word, CAST(i + 2 - l AS INT),
       |                            CAST(l AS INT))][1] END),
       |              x -> x IS NOT NULL) AS cs
       |              FROM fw WHERE i < length(word)))),
       |ffin AS MATERIALIZED (
       |  SELECT word, m, a FROM fw WHERE i = length(word)),
       |wk AS (
       |  SELECT word, k, 0 AS step, CAST(length(word) AS BIGINT) AS pos,
       |         CAST([] AS VARCHAR[]) AS ps, m, a
       |  FROM ffin, unnest(generate_series(1, $nSamples)) AS tk(k)
       |  UNION ALL
       |  SELECT word, k, step + 1, pos - pl AS pos,
       |         list_prepend(substr(word, CAST(pos - pl + 1 AS INT),
       |           CAST(pl AS INT)), ps) AS ps, m, a
       |  FROM (
       |    SELECT *, CAST(list_min(list_filter(list_transform(
       |        generate_series(1, 4),
       |        l -> CASE WHEN wa[l] IS NOT NULL
       |                   AND hm < list_aggregate(list_transform(
       |                     generate_series(1, l),
       |                     j -> coalesce(wa[j], CAST(0 AS BIGINT))),
       |                     'sum') THEN l END),
       |        x -> x IS NOT NULL)) AS BIGINT) AS pl
       |    FROM (
       |      SELECT *, hv % list_aggregate(list_transform(wa,
       |          w -> coalesce(w, CAST(0 AS BIGINT))), 'sum') AS hm
       |      FROM (
       |        SELECT word, k, step, pos, ps, m, a,
       |          list_transform(generate_series(1, 4), l ->
       |            CASE WHEN l <= pos AND m[substr(word,
       |                   CAST(pos - l + 1 AS INT),
       |                   CAST(l AS INT))][1] IS NOT NULL
       |            THEN CAST(floor(exp(CAST(a[CAST(pos - l + 1 AS INT)]
       |                 + m[substr(word, CAST(pos - l + 1 AS INT),
       |                     CAST(l AS INT))][1]
       |                 - a[CAST(pos + 1 AS INT)] AS DOUBLE) / 1e6)
       |                 * 1e6 + 0.5) AS BIGINT) END) AS wa,
       |          ${md5SliceSql(
               s"'sseg|$seed|' || word || '|' || CAST(k AS VARCHAR)" +
                 " || '|' || CAST(step + 1 AS VARCHAR)")} AS hv
       |        FROM wk WHERE pos > 0))))
       |SELECT s.word, h.freq, CAST(s.k AS INT) AS sample_id,
       |  CAST(len(s.ps) AS INT) AS n_pieces,
       |  array_to_string(s.ps, ' ') AS segmented
       |FROM (SELECT word, k, ps FROM wk WHERE pos = 0) s
       |JOIN wh h USING (word)
       |ORDER BY word, sample_id""".stripMargin

  /** DuckDB replay of the corpus unigram LM
    * ([[graft.functions.TextAnalysis.perplexity]]: add-one smoothing,
    * micronat-quantized per token): `tok`/`cnt`/`tot` the census, `sc`
    * (doc_id, m) each token's log-probability and `agg` (doc_id,
    * n_tokens, lp) their per-document sum. */
  private val unigramLmSql: String =
    """tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t
      |            FROM documents),
      |cnt AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
      |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total, count(*) AS v FROM cnt),
      |sc AS (SELECT doc_id,
      |         CAST(floor(ln(CAST(c + 1 AS DOUBLE) / (n_total + v))
      |              * 1000000 + 0.5) AS BIGINT) AS m
      |       FROM tok JOIN cnt USING (t) CROSS JOIN tot),
      |agg AS (SELECT doc_id, count(*) AS n_tokens, sum(m) AS lp
      |        FROM sc GROUP BY doc_id)""".stripMargin

  /** The self-trained transition scorers' census: `t` token lists, `tr`
    * (doc_id, prev, cur) every document's transitions and `bc` (prev,
    * cur, bc) the corpus bigram counts. */
  private val selfTransitionsSql: String =
    """t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |tr AS (SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur
      |       FROM (SELECT doc_id, toks,
      |               unnest(generate_series(1, len(toks) - 1)) AS i
      |             FROM t WHERE len(toks) >= 2)),
      |bc AS (SELECT prev, cur, count(*) AS bc FROM tr GROUP BY 1, 2)""".stripMargin

  /** The self-trained transition scorers' per-document buckets
    * ([[graft.functions.TextAnalysis.perplexityBigram]] and the KN pair):
    * their `sc` (doc_id, m) summed per document — 0 for documents without a
    * transition — and bucketed against the corpus-mean cutoffs (head at
    * <= 1.00x, middle at <= 1.02x) in exact integer arithmetic. */
  private val transitionBucketsSql: String =
    """agg0 AS (SELECT doc_id, count(*) AS nt, sum(m) AS lp
      |         FROM sc GROUP BY doc_id),
      |agg AS (SELECT d.doc_id, coalesce(nt, 0) AS nt, coalesce(lp, 0) AS lp
      |        FROM documents d LEFT JOIN agg0 ON agg0.doc_id = d.doc_id),
      |cut AS (SELECT CAST((100 * sum(-lp)) // (100 * sum(nt)) AS BIGINT) AS hc,
      |               CAST((102 * sum(-lp)) // (100 * sum(nt)) AS BIGINT) AS tc
      |        FROM agg)
      |SELECT doc_id, CAST(nt AS INT) AS n_transitions,
      |  CAST(lp AS BIGINT) AS logprob_micronats,
      |  CASE WHEN -lp <= nt * hc THEN 'head'
      |       WHEN -lp <= nt * tc THEN 'middle'
      |       ELSE 'tail' END AS ppl_bucket
      |FROM agg CROSS JOIN cut ORDER BY doc_id""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    QueryDef.headline("text_lang_id",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), col("lang").as("actual_lang"),
          TextAnalysis.langId(col("text")).as("pred_lang"))
        .orderBy("doc_id"),
      Some(s"""WITH sc AS (SELECT doc_id, lang, $langScoreSql FROM documents)
              |SELECT doc_id, lang AS actual_lang, $langCaseSql AS pred_lang
              |FROM sc ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("text_langid_confusion",
      // classifier QA for the lang-id heuristic: (actual, predicted)
      // confusion counts against the table's ground-truth lang — the
      // evaluation loop every heuristic filter needs; oracle re-runs the
      // whole classifier and the census
      (s, dir) => Tables.documents(s, dir)
        .select(col("lang").as("actual_lang"),
          TextAnalysis.langId(col("text")).as("pred_lang"))
        .groupBy("actual_lang", "pred_lang")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("actual_lang", "pred_lang"),
      Some(s"""WITH sc AS (SELECT doc_id, lang, $langScoreSql FROM documents)
              |SELECT lang AS actual_lang, $langCaseSql AS pred_lang,
              |       count(*) AS n_docs
              |FROM sc GROUP BY 1, 2 ORDER BY actual_lang, pred_lang""".stripMargin)),

    QueryDef.headline("text_quality",
      (s, dir) => TextAnalysis.qualityMetrics(Tables.documents(s, dir))
        .withColumn("quality_score", TextAnalysis.qualityScore())
        .select("doc_id", "n_tokens", "n_uniq_tokens", "type_token_ratio",
          "stopword_ratio", "mean_token_len", "quality_score")
        .orderBy("doc_id"),
      Some(s"""WITH $QualityScoreSql
              |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
              |  CAST(n_uniq_tokens AS INT) AS n_uniq_tokens,
              |  CAST(n_uniq_tokens AS DOUBLE) / n_tokens AS type_token_ratio,
              |  CAST(n_stop AS DOUBLE) / n_uniq_tokens AS stopword_ratio,
              |  CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS mean_token_len,
              |  quality_score
              |FROM qs ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("text_perplexity",
      // CCNet-style corpus-LM scoring: add-one-smoothed unigram
      // log-probability quantized to integer micronats per token (an
      // associative BIGINT sum — a raw double log-sum would differ in
      // ulps between engines), plus the corpus-relative head/middle/tail
      // perplexity bucket; the oracle retrains the LM (counts, totals)
      // AND rederives the bucket cutoffs from scratch in exact integer
      // arithmetic
      (s, dir) => TextAnalysis.perplexity(Tables.documents(s, dir),
          "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH $unigramLmSql,
             |cut AS (SELECT CAST((100 * sum(-lp)) // (100 * sum(n_tokens)) AS BIGINT) AS hc,
             |               CAST((102 * sum(-lp)) // (100 * sum(n_tokens)) AS BIGINT) AS tc
             |        FROM agg)
             |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
             |  CAST(lp AS BIGINT) AS logprob_micronats,
             |  CASE WHEN -lp <= n_tokens * hc THEN 'head'
             |       WHEN -lp <= n_tokens * tc THEN 'middle'
             |       ELSE 'tail' END AS ppl_bucket
             |FROM agg CROSS JOIN cut ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("text_perplexity_bigram",
      // conditional (bigram) LM scoring — transitions, not token rarity:
      // p(cur|prev) = (c(prev,cur)+1) / (c(prev)+V) with c(prev) counted
      // as a context; same micronat/corpus-relative-cutoff discipline as
      // text_perplexity, oracle retrains everything from scratch
      (s, dir) => TextAnalysis.perplexityBigram(Tables.documents(s, dir),
          "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH $selfTransitionsSql,
             |cc AS (SELECT prev, count(*) AS cc FROM tr GROUP BY 1),
             |voc AS (SELECT count(DISTINCT tk) AS v
             |        FROM (SELECT unnest(toks) AS tk FROM t)),
             |sc AS (SELECT doc_id,
             |         CAST(floor(ln(CAST(bc + 1 AS DOUBLE) / (cc + v))
             |              * 1000000 + 0.5) AS BIGINT) AS m
             |       FROM tr JOIN bc USING (prev, cur) JOIN cc USING (prev)
             |       CROSS JOIN voc),
             |$transitionBucketsSql""".stripMargin)),

    QueryDef.headline("text_perplexity_kn",
      // interpolated Kneser-Ney bigram scoring — the continuation-count
      // smoothing real LM filters (KenLM/CCNet) use: discounted mass is
      // redistributed by how many distinct CONTEXTS a word follows, not
      // raw frequency. D = 3/4 rational, probabilities exact integer
      // ratios (HUGEINT/DECIMAL(38,0) cross-moments), micronat log only
      // at the end; oracle retrains all three continuation aggregates
      (s, dir) => TextAnalysis.perplexityKneserNey(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH $selfTransitionsSql,
             |ctx AS (SELECT prev, sum(bc) AS cc, count(*) AS fol FROM bc GROUP BY 1),
             |pre AS (SELECT cur, count(*) AS pre FROM bc GROUP BY 1),
             |nb AS (SELECT CAST(count(*) AS HUGEINT) AS nb FROM bc),
             |sc AS (SELECT doc_id,
             |         CAST(floor(ln(
             |           CAST((4 * CAST(bc AS HUGEINT) - 3) * nb
             |                + 3 * CAST(fol AS HUGEINT) * pre AS DOUBLE)
             |           / CAST(4 * CAST(cc AS HUGEINT) * nb AS DOUBLE))
             |              * 1000000 + 0.5) AS BIGINT) AS m
             |       FROM tr JOIN bc USING (prev, cur) JOIN ctx USING (prev)
             |       JOIN pre USING (cur) CROSS JOIN nb),
             |$transitionBucketsSql""".stripMargin)),

    QueryDef.headline("text_perplexity_kn3",
      // interpolated TRIGRAM Kneser-Ney (Chen & Goodman recursion, D=3/4
      // at both discounted levels): the full continuation-count ladder —
      // trigram ML discounted, bigram level FROM continuation counts
      // N1+(·w2w3), unigram from the continuation-bigram type table.
      // Exact integer ratios in DECIMAL(38,0)/HUGEINT, micronat log at
      // the end; oracle retrains every table from scratch
      (s, dir) => TextAnalysis.perplexityKneserNey3(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |tr AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
             |       FROM (SELECT doc_id, toks,
             |               unnest(generate_series(1, len(toks) - 2)) AS i
             |             FROM t WHERE len(toks) >= 3)),
             |tcn AS (SELECT w1, w2, w3, count(*) AS tc FROM tr GROUP BY 1, 2, 3),
             |ctx2 AS (SELECT w1, w2, sum(tc) AS cc2, count(*) AS f12 FROM tcn GROUP BY 1, 2),
             |cont AS (SELECT w2, w3, count(*) AS n1 FROM tcn GROUP BY 1, 2),
             |mid AS (SELECT w2, sum(n1) AS m2, count(*) AS f2 FROM cont GROUP BY 1),
             |pre AS (SELECT w3, count(*) AS pre3 FROM cont GROUP BY 1),
             |nbp AS (SELECT CAST(count(*) AS HUGEINT) AS nbp FROM cont),
             |sc AS (SELECT doc_id,
             |         CAST(floor(ln(
             |           CAST((4 * CAST(tc AS HUGEINT) - 3) * 4 * CAST(m2 AS HUGEINT) * nbp
             |                + 3 * CAST(f12 AS HUGEINT)
             |                  * ((4 * CAST(n1 AS HUGEINT) - 3) * nbp
             |                     + 3 * CAST(f2 AS HUGEINT) * pre3) AS DOUBLE)
             |           / CAST(16 * CAST(cc2 AS HUGEINT) * CAST(m2 AS HUGEINT) * nbp AS DOUBLE))
             |              * 1000000 + 0.5) AS BIGINT) AS m
             |       FROM tr JOIN tcn USING (w1, w2, w3) JOIN ctx2 USING (w1, w2)
             |       JOIN cont USING (w2, w3) JOIN mid USING (w2)
             |       JOIN pre USING (w3) CROSS JOIN nbp),
             |$transitionBucketsSql""".stripMargin)),

    QueryDef.headline("text_perplexity_pretrained",
      // the TRAIN/APPLY split every other perplexity gate deliberately
      // avoids — the production CCNet shape: the LM (KN bigram, D=3/4)
      // trains on the even-doc_id half and scores the odd half, so
      // unseen bigrams/contexts/words must receive mass (one
      // pseudo-count on the continuation distribution; unseen context
      // backs off to it with weight 1). Emits the per-doc unseen-bigram
      // count next to the score — the OOV diagnostic. Exact integer
      // ratios; oracle retrains the LM from the even half.
      // Since round 12 the LM is a LANDED artifact ([[Artifacts.knModelPath]],
      // built offline like the other registry artifacts) and the timed query is
      // APPLY ONLY — the per-crawl production cost the gate's doc
      // always described (round-11 verdict #3)
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        TextAnalysis.perplexityKneserNeyApplyModel(
            TextAnalysis.knBigramModelRead(s, Artifacts.knModelPath(s, dir)),
            docs.filter(pmod(col("doc_id"), lit(2)) === 1),
            "doc_id", "text")
          .orderBy("doc_id")
      },
      Some(s"""WITH ${knBigramScoreSql("doc_id", "doc_id % 2 = 1")},
             |agg0 AS (SELECT doc_id, count(*) AS nt,
             |           sum(CASE WHEN bcv = 0 THEN 1 ELSE 0 END) AS nu,
             |           sum(m) AS lp
             |         FROM sc GROUP BY 1)
             |SELECT a.doc_id, CAST(coalesce(nt, 0) AS INT) AS n_transitions,
             |  CAST(coalesce(nu, 0) AS INT) AS n_unseen_bigrams,
             |  CAST(coalesce(lp, 0) AS BIGINT) AS logprob_micronats
             |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) a
             |LEFT JOIN agg0 USING (doc_id) ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("text_perplexity_pretrained3",
      // the pretrained split at TRIGRAM order (round-11 verdict #3's
      // second half): the kn3 continuation ladder composed with the
      // open-vocabulary smoothing — discounted terms floor at 0 on
      // unseen apply-side counts, the unigram continuation distribution
      // carries one Laplace unseen-word class, unseen (w2) backs off to
      // it, unseen (w1,w2) to the middle distribution. LM landed
      // offline ([[Artifacts.kn3ModelPath]]); timed query = apply only. Oracle
      // retrains from the even half and replays every branch
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        TextAnalysis.perplexityKneserNey3ApplyModel(
            TextAnalysis.kn3ModelRead(s, Artifacts.kn3ModelPath(s, dir)),
            docs.filter(pmod(col("doc_id"), lit(2)) === 1),
            "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |trA AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
             |        FROM (SELECT doc_id, toks,
             |                unnest(generate_series(1, len(toks) - 2)) AS i
             |              FROM d WHERE doc_id % 2 = 1 AND len(toks) >= 3)),
             |trT AS (SELECT toks[i] AS w1, toks[i + 1] AS w2, toks[i + 2] AS w3
             |        FROM (SELECT toks,
             |                unnest(generate_series(1, len(toks) - 2)) AS i
             |              FROM d WHERE doc_id % 2 = 0 AND len(toks) >= 3)),
             |tcn AS (SELECT w1, w2, w3, count(*) AS tc FROM trT GROUP BY 1, 2, 3),
             |ctx2 AS (SELECT w1, w2, sum(tc) AS cc2, count(*) AS f12 FROM tcn GROUP BY 1, 2),
             |cont AS (SELECT w2, w3, count(*) AS n1 FROM tcn GROUP BY 1, 2),
             |mid AS (SELECT w2, sum(n1) AS m2, count(*) AS f2 FROM cont GROUP BY 1),
             |pre AS (SELECT w3, count(*) AS pre3 FROM cont GROUP BY 1),
             |tot AS (SELECT CAST(count(*) AS HUGEINT) AS nbp,
             |               CAST(count(DISTINCT w3) AS HUGEINT) AS vc3 FROM cont),
             |sc AS (SELECT doc_id, coalesce(tcn.tc, 0) AS tcv,
             |         CASE WHEN coalesce(ctx2.cc2, 0) > 0 THEN
             |           CAST(floor(ln(
             |             CAST(greatest(4 * CAST(coalesce(tcn.tc, 0) AS HUGEINT) - 3, 0)
             |                    * 4 * CAST(mid.m2 AS HUGEINT) * (nbp + vc3 + 1)
             |                  + 3 * CAST(ctx2.f12 AS HUGEINT)
             |                    * (greatest(4 * CAST(coalesce(cont.n1, 0) AS HUGEINT) - 3, 0)
             |                         * (nbp + vc3 + 1)
             |                       + 3 * CAST(coalesce(mid.f2, 0) AS HUGEINT)
             |                         * (CAST(coalesce(pre.pre3, 0) AS HUGEINT) + 1)) AS DOUBLE)
             |             / CAST(16 * CAST(ctx2.cc2 AS HUGEINT) * CAST(mid.m2 AS HUGEINT)
             |                    * (nbp + vc3 + 1) AS DOUBLE))
             |               * 1000000 + 0.5) AS BIGINT)
             |         WHEN coalesce(mid.m2, 0) > 0 THEN
             |           CAST(floor(ln(
             |             CAST(greatest(4 * CAST(coalesce(cont.n1, 0) AS HUGEINT) - 3, 0)
             |                    * (nbp + vc3 + 1)
             |                  + 3 * CAST(mid.f2 AS HUGEINT)
             |                    * (CAST(coalesce(pre.pre3, 0) AS HUGEINT) + 1) AS DOUBLE)
             |             / CAST(4 * CAST(mid.m2 AS HUGEINT) * (nbp + vc3 + 1) AS DOUBLE))
             |               * 1000000 + 0.5) AS BIGINT)
             |         ELSE
             |           CAST(floor(ln((CAST(coalesce(pre.pre3, 0) AS DOUBLE) + 1.0)
             |             / CAST(nbp + vc3 + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
             |         END AS m
             |       FROM trA LEFT JOIN tcn USING (w1, w2, w3)
             |       LEFT JOIN ctx2 USING (w1, w2) LEFT JOIN cont USING (w2, w3)
             |       LEFT JOIN mid USING (w2) LEFT JOIN pre USING (w3)
             |       CROSS JOIN tot),
             |agg0 AS (SELECT doc_id, count(*) AS nt,
             |           sum(CASE WHEN tcv = 0 THEN 1 ELSE 0 END) AS nu,
             |           sum(m) AS lp
             |         FROM sc GROUP BY 1)
             |SELECT a.doc_id, CAST(coalesce(nt, 0) AS INT) AS n_transitions,
             |  CAST(coalesce(nu, 0) AS INT) AS n_unseen_trigrams,
             |  CAST(coalesce(lp, 0) AS BIGINT) AS logprob_micronats
             |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) a
             |LEFT JOIN agg0 USING (doc_id) ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("moore_lewis_select",
      // Moore-Lewis contrastive selection (Moore & Lewis 2010): score
      // the odd-doc_id half by cross-entropy DIFFERENCE between the
      // landed in-domain LM (even half, lang='en' — [[Artifacts.knDomainModelPath]])
      // and the landed general LM (even half — [[Artifacts.knModelPath]]); keep
      // docs the domain model finds easier (positive difference). Both
      // LMs are landed artifacts; the timed query is apply-only x2.
      // Oracle retrains both and replays every smoothing branch
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        TextAnalysis.mooreLewisSelect(
            TextAnalysis.knBigramModelRead(s, Artifacts.knDomainModelPath(s, dir)),
            TextAnalysis.knBigramModelRead(s, Artifacts.knModelPath(s, dir)),
            docs.filter(pmod(col("doc_id"), lit(2)) === 1),
            "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
             |trA AS (SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur
             |        FROM (SELECT doc_id, toks,
             |                unnest(generate_series(1, len(toks) - 1)) AS i
             |              FROM d WHERE doc_id % 2 = 1 AND len(toks) >= 2)),
             |trG AS (SELECT toks[i] AS prev, toks[i + 1] AS cur
             |        FROM (SELECT toks,
             |                unnest(generate_series(1, len(toks) - 1)) AS i
             |              FROM d WHERE doc_id % 2 = 0 AND len(toks) >= 2)),
             |trD AS (SELECT toks[i] AS prev, toks[i + 1] AS cur
             |        FROM (SELECT toks,
             |                unnest(generate_series(1, len(toks) - 1)) AS i
             |              FROM d WHERE doc_id % 2 = 0 AND lang = 'en'
             |                AND len(toks) >= 2)),
             |bcG AS (SELECT prev, cur, count(*) AS bc FROM trG GROUP BY 1, 2),
             |ctxG AS (SELECT prev, sum(bc) AS cc, count(*) AS fol FROM bcG GROUP BY 1),
             |preG AS (SELECT cur, count(*) AS pre FROM bcG GROUP BY 1),
             |totG AS (SELECT CAST(count(*) AS HUGEINT) AS nb,
             |                CAST(count(DISTINCT cur) AS HUGEINT) AS vc FROM bcG),
             |bcD AS (SELECT prev, cur, count(*) AS bc FROM trD GROUP BY 1, 2),
             |ctxD AS (SELECT prev, sum(bc) AS cc, count(*) AS fol FROM bcD GROUP BY 1),
             |preD AS (SELECT cur, count(*) AS pre FROM bcD GROUP BY 1),
             |totD AS (SELECT CAST(count(*) AS HUGEINT) AS nb,
             |                CAST(count(DISTINCT cur) AS HUGEINT) AS vc FROM bcD),
             |scG AS (SELECT doc_id,
             |          CASE WHEN coalesce(ctxG.cc, 0) > 0 THEN
             |            CAST(floor(ln(
             |              CAST(greatest(4 * CAST(coalesce(bcG.bc, 0) AS HUGEINT) - 3, 0) * (nb + vc + 1)
             |                   + 3 * CAST(coalesce(ctxG.fol, 0) AS HUGEINT)
             |                     * (CAST(coalesce(preG.pre, 0) AS HUGEINT) + 1) AS DOUBLE)
             |              / CAST(4 * CAST(ctxG.cc AS HUGEINT) * (nb + vc + 1) AS DOUBLE))
             |                * 1000000 + 0.5) AS BIGINT)
             |          ELSE
             |            CAST(floor(ln((CAST(coalesce(preG.pre, 0) AS DOUBLE) + 1.0)
             |              / CAST(nb + vc + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
             |          END AS m
             |        FROM trA LEFT JOIN bcG USING (prev, cur)
             |        LEFT JOIN ctxG USING (prev) LEFT JOIN preG USING (cur)
             |        CROSS JOIN totG),
             |scD AS (SELECT doc_id,
             |          CASE WHEN coalesce(ctxD.cc, 0) > 0 THEN
             |            CAST(floor(ln(
             |              CAST(greatest(4 * CAST(coalesce(bcD.bc, 0) AS HUGEINT) - 3, 0) * (nb + vc + 1)
             |                   + 3 * CAST(coalesce(ctxD.fol, 0) AS HUGEINT)
             |                     * (CAST(coalesce(preD.pre, 0) AS HUGEINT) + 1) AS DOUBLE)
             |              / CAST(4 * CAST(ctxD.cc AS HUGEINT) * (nb + vc + 1) AS DOUBLE))
             |                * 1000000 + 0.5) AS BIGINT)
             |          ELSE
             |            CAST(floor(ln((CAST(coalesce(preD.pre, 0) AS DOUBLE) + 1.0)
             |              / CAST(nb + vc + 1 AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
             |          END AS m
             |        FROM trA LEFT JOIN bcD USING (prev, cur)
             |        LEFT JOIN ctxD USING (prev) LEFT JOIN preD USING (cur)
             |        CROSS JOIN totD),
             |aggG AS (SELECT doc_id, count(*) AS nt, sum(m) AS lp FROM scG GROUP BY 1),
             |aggD AS (SELECT doc_id, sum(m) AS lp FROM scD GROUP BY 1)
             |SELECT a.doc_id, CAST(coalesce(nt, 0) AS INT) AS n_transitions,
             |  CAST(coalesce(aggD.lp, 0) AS BIGINT) AS lp_domain_micronats,
             |  CAST(coalesce(aggG.lp, 0) AS BIGINT) AS lp_general_micronats,
             |  CAST(coalesce(aggD.lp, 0) - coalesce(aggG.lp, 0) AS BIGINT)
             |    AS ml_score_micronats,
             |  coalesce(nt, 0) > 0
             |    AND coalesce(aggD.lp, 0) - coalesce(aggG.lp, 0) > 0 AS selected
             |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) a
             |LEFT JOIN aggG USING (doc_id) LEFT JOIN aggD USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("ccnet_lang_buckets",
      // CCNet §4.3: per-LANGUAGE thirds by LM surprisal-per-token (head /
      // middle / tail). Engine: integer surprisal score, per-lang tercile
      // cutoffs from the bounded-histogram percentile pass, broadcast
      // threshold assignment. Oracle: retrains the LM, re-derives every
      // score, both cutoffs per language, and the bucket of every doc
      (s, dir) => TextAnalysis.ccnetBuckets(Tables.documents(s, dir),
          "doc_id", "text", "lang")
        .orderBy("doc_id"),
      Some {
        val (f1, f2) = (fmtD(1.0 / 3), fmtD(2.0 / 3))
        s"""WITH $unigramLmSql,
           |s AS (SELECT d.doc_id, d.lang,
           |        CAST((-lp) // n_tokens AS BIGINT) AS surprisal_micronats
           |      FROM agg JOIN documents d USING (doc_id)),
           |n AS (SELECT lang, count(*) AS n FROM s GROUP BY 1),
           |cv AS (SELECT lang, surprisal_micronats AS v, count(*) AS c
           |       FROM s GROUP BY 1, 2),
           |r AS (SELECT lang, v,
           |        sum(c) OVER (PARTITION BY lang ORDER BY v) AS cum
           |      FROM cv),
           |c1 AS (SELECT n.lang, min(r.v) AS c FROM n
           |       JOIN r ON r.lang = n.lang
           |        AND r.cum >= ceil(n.n * CAST('$f1' AS DOUBLE))
           |       GROUP BY n.lang),
           |c2 AS (SELECT n.lang, min(r.v) AS c FROM n
           |       JOIN r ON r.lang = n.lang
           |        AND r.cum >= ceil(n.n * CAST('$f2' AS DOUBLE))
           |       GROUP BY n.lang)
           |SELECT s.doc_id, s.lang, s.surprisal_micronats,
           |  CASE WHEN s.surprisal_micronats <= c1.c THEN 'head'
           |       WHEN s.surprisal_micronats <= c2.c THEN 'middle'
           |       ELSE 'tail' END AS ccnet_bucket
           |FROM s JOIN c1 USING (lang) JOIN c2 USING (lang)
           |ORDER BY doc_id""".stripMargin
      }),

    QueryDef.headline("token_count",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).as("n_ws_tokens"),
          TextAnalysis.tokenCountBpe(col("text")).as("n_bpe_tokens"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(len(string_split(text,' ')) AS INT) AS n_ws_tokens,
             |  CAST(len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9 ]')) AS INT) AS n_bpe_tokens
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("decontam_minkprob",
      // Min-K% probability membership score (Shi et al. 2023): the
      // contamination AUDIT after decontamination — mean NLL of each
      // doc's k%=20 most-surprising transitions under the LANDED
      // general LM (low => likely trained-on). Integer k-cutoff,
      // (logprob, index) tie-break, toward-zero mean of the
      // non-negative NLL sum — engine-exact. Timed query = apply only
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        TextAnalysis.minKProbScore(
            TextAnalysis.knBigramModelRead(s, Artifacts.knModelPath(s, dir)),
            docs.filter(pmod(col("doc_id"), lit(2)) === 1),
            "doc_id", "text", kPct = 20)
          .orderBy("doc_id")
      },
      Some(s"""WITH ${knBigramScoreSql("doc_id, i", "doc_id % 2 = 1")},
             |r AS (SELECT doc_id, m,
             |        row_number() OVER (PARTITION BY doc_id ORDER BY m, i) AS rn,
             |        count(*) OVER (PARTITION BY doc_id) AS n
             |      FROM sc),
             |a AS (SELECT doc_id, count(*) AS nt,
             |        max((n * 20 + 99) // 100) AS nl,
             |        sum(CASE WHEN rn <= (n * 20 + 99) // 100
             |            THEN -m ELSE 0 END) AS s
             |      FROM r GROUP BY 1)
             |SELECT a2.doc_id, CAST(coalesce(nt, 0) AS INT) AS n_transitions,
             |  CAST(coalesce(nl, 0) AS INT) AS n_lowest,
             |  CAST(coalesce(s, 0) AS BIGINT) AS mink_nll_micronats,
             |  CAST(CASE WHEN coalesce(nl, 0) > 0 THEN s // nl ELSE 0 END
             |    AS BIGINT) AS mink_avg_nll_micronats
             |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) a2
             |LEFT JOIN a USING (doc_id) ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("text_char_entropy",
      // character-entropy quality signal (quantize-then-sum micronats —
      // the perplexity family's exactness discipline); oracle recomputes
      // every per-char count, every quantized log, and both divisions
      (s, dir) => TextAnalysis.charEntropy(Tables.documents(s, dir),
          "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH ex AS (SELECT doc_id, unnest(string_split(text, '')) AS c
             |            FROM documents),
             |cnt AS (SELECT doc_id, c, count(*) AS n FROM ex
             |        WHERE c <> '' GROUP BY 1, 2),
             |agg AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_chars_total,
             |          CAST(sum(n * CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS s
             |        FROM cnt GROUP BY 1)
             |SELECT doc_id, n_chars_total,
             |  CAST(CAST(floor(ln(CAST(n_chars_total AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
             |       - (s // n_chars_total) AS BIGINT) AS entropy_micronats
             |FROM agg ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("vocab_coverage_curve",
      // vocab-size decision curve: occurrence coverage of top-N
      // vocabularies, computed from the COUNT-OF-COUNTS histogram (driver
      // sees count VALUES, never a token ranking); the oracle ranks the
      // whole vocabulary with a window — the very plan the engine avoids —
      // and must agree because tie levels sum identically
      (s, dir) => TextAnalysis.vocabCoverage(Tables.documents(s, dir),
          "text", Seq(100L, 500L, 2000L))
        .orderBy("n"),
      Some("""WITH tk AS (SELECT unnest(string_split(text, ' ')) AS t
             |            FROM documents),
             |c AS (SELECT t, count(*) AS c FROM tk GROUP BY t),
             |tot AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM c),
             |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, t) AS rn
             |      FROM c),
             |n AS (SELECT CAST(unnest([100, 500, 2000]) AS BIGINT) AS n)
             |SELECT n.n,
             |  CAST(sum(CASE WHEN r.rn <= n.n THEN r.c ELSE 0 END) AS BIGINT)
             |    AS covered_occurrences,
             |  tot.total AS total_occurrences,
             |  CAST(sum(CASE WHEN r.rn <= n.n THEN r.c ELSE 0 END) AS DOUBLE)
             |    / tot.total AS coverage
             |FROM r CROSS JOIN n CROSS JOIN tot
             |GROUP BY n.n, tot.total ORDER BY n""".stripMargin)),

    QueryDef.headline("langid_margin",
      // language-call confidence: best minus second-best marker score per
      // doc (integer intersection counts — engine-exact); the oracle
      // recomputes every per-language score and the sorted gap
      (s, dir) => TextAnalysis.langIdMargin(Tables.documents(s, dir),
          "doc_id", "text")
        .orderBy("doc_id"),
      Some {
        val sList = TextAnalysis.Langs.map(l => s"s_${l._1}").mkString(", ")
        s"""WITH m AS (SELECT doc_id, $langScoreSql
           |           FROM documents)
           |SELECT doc_id, $langCaseSql AS lang_pred,
           |  CAST(list_sort([$sList], 'DESC')[1]
           |     - list_sort([$sList], 'DESC')[2] AS INT) AS margin
           |FROM m ORDER BY doc_id""".stripMargin
      }),

    QueryDef.headline("oov_rate_by_lang",
      // tokenizer-coverage dashboard: out-of-vocabulary rate per language
      // under the top-500 corpus vocabulary — the number a tokenizer/vocab
      // decision is made on; vocabulary + ranking + every id recomputed
      (s, dir) => {
        val ids = TextAnalysis.tokenizeIds(Tables.documents(s, dir),
          "doc_id", "text", vocabSize = 500)
        val langs = Tables.documents(s, dir).select("doc_id", "lang")
        ids.join(langs.hint("shuffle_hash"), Seq("doc_id"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("tok_id") === 0, 1L).otherwise(0L)).as("n_oov"))
          .withColumn("oov_rate",
            col("n_oov").cast("double") / col("n_tokens"))
          .orderBy("lang")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             |            FROM documents),
             |v AS (SELECT tok FROM (
             |        SELECT tok, count(*) AS c FROM tok GROUP BY tok
             |        ORDER BY c DESC, tok LIMIT 500)),
             |j AS (SELECT t.doc_id, (v.tok IS NOT NULL) AS inv
             |      FROM tok t LEFT JOIN v ON t.tok = v.tok)
             |SELECT d.lang, count(*) AS n_tokens,
             |  CAST(sum(CASE WHEN NOT inv THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
             |  CAST(sum(CASE WHEN NOT inv THEN 1 ELSE 0 END) AS DOUBLE)
             |    / count(*) AS oov_rate
             |FROM j JOIN documents d USING (doc_id)
             |GROUP BY d.lang ORDER BY lang""".stripMargin)),

    QueryDef("ngram_topk",
      // most frequent word bigrams across the corpus: explode -> count -> topk
      (s, dir) => Tables.documents(s, dir)
        .select(explode(graft.functions.Dedup.shingles(col("text"), 2)).as("gram"))
        .groupBy("gram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("gram")).limit(20),
      Some("""SELECT gram, count(*) AS n FROM (
             |  SELECT unnest(list_distinct(CASE WHEN len(string_split(text,' ')) >= 2
             |    THEN list_transform(generate_series(1, len(string_split(text,' '))-1),
             |         i -> array_to_string((string_split(text,' '))[i:i+1], ' '))
             |    ELSE [text] END)) AS gram
             |  FROM documents)
             |GROUP BY gram ORDER BY n DESC, gram LIMIT 20""".stripMargin)),

    QueryDef.headline("bpe_learn",
      // BPE vocabulary learning (Sennrich 2016): 8 merge rounds over the
      // word histogram — after one corpus-sized shuffle every round is
      // model-sized. The oracle unrolls all 8 rounds (pair census, total-
      // order argmax, greedy leftmost non-overlapping merge via
      // parity-kept starts) and must reproduce the exact merge table
      (s, dir) => graft.functions.Bpe.learn(
          Tables.documents(s, dir), "text", steps = 8)
        .orderBy("step"),
      Some(graft.functions.Bpe.learnOracleSql("documents", "text", steps = 8))),

    QueryDef.headline("bpe_learn_batched",
      // the production-vocab path: up to 4 pairwise-non-interacting merges
      // applied per Spark round (strict-dominance guarded — see
      // Bpe.learnBatched), provably identical to sequential greedy. Gate
      // replays the SAME unrolled sequential oracle as bpe_learn: the
      // equivalence is checked bit-for-bit against DuckDB, not just
      // self-consistency
      (s, dir) => graft.functions.Bpe.learnBatched(
          Tables.documents(s, dir), "text", steps = 8, maxBatch = 4)
        .orderBy("step"),
      Some(graft.functions.Bpe.learnOracleSql("documents", "text", steps = 8))),

    QueryDef.headline("bpe_token_census",
      // the consumer half of BPE learning: segment the corpus under the 8
      // learned merges and census the resulting symbol inventory (token
      // frequency table under the learned vocabulary). The oracle re-learns
      // all 8 merges AND re-segments every word
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.functions.Bpe.segment(docs, "text", Artifacts.bpeMerges(s, dir))
          .select(explode(col("syms")).as("sym"), col("freq"))
          .groupBy("sym").agg(sum(col("freq")).as("n"))
          .orderBy(col("n").desc, col("sym"))
      },
      Some(s"""${graft.functions.Bpe.learnSegmentedCteSql("documents", "text", steps = 8)}
              |SELECT sym, CAST(sum(freq) AS BIGINT) AS n
              |FROM (SELECT unnest(syms) AS sym, freq FROM w8)
              |GROUP BY sym ORDER BY n DESC, sym""".stripMargin)),

    QueryDef.headline("bpe_fertility_by_lang",
      // tokenizer-fertility dashboard: chars per subword token by language
      // under the LEARNED 8-merge vocabulary — the number vocab-size and
      // language-mix decisions are made on. The segmented histogram is
      // model-sized, so the word -> n_subtokens map BROADCASTS; the corpus
      // side is one explode + one shuffle-free broadcast join + one
      // lang-keyed aggregate. Integer everything; fertility in micro-units
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val seg = graft.functions.Bpe.segment(docs, "text", Artifacts.bpeMerges(s, dir))
          .select(col("word"), size(col("syms")).cast("long").as("n_sub"))
        val words = docs.select(col("lang"),
            explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
        words.join(broadcast(seg), Seq("word"))
          .groupBy("lang")
          .agg(sum(length(col("word")).cast("long")).as("n_chars"),
            sum(col("n_sub")).as("n_subtokens"))
          .withColumn("fertility_micro",
            expr("(1000000 * n_chars) div n_subtokens"))
          .orderBy("lang")
      },
      Some(s"""${graft.functions.Bpe.learnSegmentedCteSql("documents", "text", steps = 8)},
              |seg AS MATERIALIZED (
              |  SELECT word, CAST(len(syms) AS BIGINT) AS n_sub FROM w8),
              |wrd AS (
              |  SELECT lang, unnest(string_split(text, ' ')) AS word
              |  FROM documents)
              |SELECT lang, CAST(sum(len(word)) AS BIGINT) AS n_chars,
              |       CAST(sum(n_sub) AS BIGINT) AS n_subtokens,
              |       CAST((1000000 * CAST(sum(len(word)) AS BIGINT))
              |            // CAST(sum(n_sub) AS BIGINT) AS BIGINT) AS fertility_micro
              |FROM wrd JOIN seg USING (word)
              |WHERE word <> ''
              |GROUP BY lang ORDER BY lang""".stripMargin)),

    QueryDef.headline("tokenize_ids",
      // vocabulary-indexed tokenization: top-1000 vocab by (freq desc,
      // token asc), ids 1..N, OOV -> 0, one row per token position; the
      // oracle retrains the vocabulary and re-maps every position
      (s, dir) => TextAnalysis.tokenizeIds(Tables.documents(s, dir),
          "doc_id", "text", vocabSize = 1000)
        .orderBy("doc_id", "pos"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |tok AS (SELECT doc_id, unnest(generate_series(1, len(toks))) AS pos, toks FROM t),
             |tk AS (SELECT doc_id, pos, toks[pos] AS tok FROM tok),
             |cnt AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
             |voc AS (SELECT tok, CAST(row_number() OVER (ORDER BY c DESC, tok) AS INT) AS tok_id
             |        FROM cnt ORDER BY c DESC, tok LIMIT 1000)
             |SELECT tk.doc_id, CAST(tk.pos AS INT) AS pos,
             |       coalesce(voc.tok_id, 0) AS tok_id
             |FROM tk LEFT JOIN voc USING (tok)
             |ORDER BY doc_id, pos""".stripMargin)),

    QueryDef.headline("seq_concat_blocks",
      // GPT-style concatenate-and-chunk: docs in seeded-shuffle order, the
      // global token stream cut into 64-token blocks crossing doc
      // boundaries; the engine's bucketed global cumsum must equal the
      // oracle's one-pass global window exactly (integer token counts)
      (s, dir) => graft.functions.Packing.concatBlocks(
          Tables.documents(s, dir), "doc_id", "text", blockWidth = 64)
        .orderBy("doc_id"),
      Some(s"""WITH d AS (
             |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
             |         ${md5SliceSql("'pack42#' || CAST(doc_id AS VARCHAR)")} AS h
             |  FROM documents),
             |o AS (
             |  SELECT doc_id, n,
             |         coalesce(sum(n) OVER (ORDER BY h, doc_id
             |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
             |  FROM d)
             |SELECT doc_id, n AS n_tokens,
             |       CAST(start_off AS BIGINT) AS start_off,
             |       CAST(start_off // 64 AS BIGINT) AS block_first,
             |       CAST((start_off + n - 1) // 64 AS BIGINT) AS block_last
             |FROM o ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("novelty_score",
      // per-doc fraction of distinct 3-gram shingles unique to the doc
      // corpus-wide (df = 1) — the boilerplate-vs-unique-content signal;
      // the oracle rebuilds the whole inverted index and every ratio
      (s, dir) => TextAnalysis.noveltyScores(Tables.documents(s, dir),
          "doc_id", "text", k = 3)
        .orderBy("doc_id"),
      Some(s"""WITH sh AS (SELECT doc_id, unnest($ShinglesSql) AS g FROM documents),
              |dfreq AS (SELECT g, count(*) AS df FROM sh GROUP BY g)
              |SELECT doc_id, count(*) AS n_grams,
              |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
              |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS novelty
              |FROM sh JOIN dfreq USING (g)
              |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("collocations",
      // top-20 adjacent-pair collocations by PMI, ranked on the integer
      // MICRONAT quantization (engine-exact cut); counts, totals, and
      // every PMI value recomputed from scratch by the oracle
      (s, dir) => TextAnalysis.collocations(Tables.documents(s, dir),
          "doc_id", "text", topK = 20, minCount = 5L),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
             |tr AS (SELECT toks[i] AS tok_a, toks[i + 1] AS tok_b
             |       FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
             |             FROM t WHERE len(toks) >= 2)),
             |pc AS (SELECT tok_a, tok_b, count(*) AS c_ab FROM tr GROUP BY 1, 2),
             |tp AS (SELECT CAST(count(*) AS BIGINT) AS t_pair FROM tr),
             |tok AS (SELECT unnest(toks) AS tok FROM t),
             |tc AS (SELECT tok, count(*) AS c_tok FROM tok GROUP BY tok),
             |tt AS (SELECT CAST(count(*) AS BIGINT) AS t_tok FROM tok)
             |SELECT tok_a, tok_b, c_ab,
             |  CAST(floor(ln((CAST(c_ab AS DOUBLE) / t_pair) /
             |       ((CAST(ca.c_tok AS DOUBLE) / t_tok) * (CAST(cb.c_tok AS DOUBLE) / t_tok)))
             |     * 1000000 + 0.5) AS BIGINT) AS pmi_micronats
             |FROM pc
             |JOIN tc ca ON ca.tok = pc.tok_a
             |JOIN tc cb ON cb.tok = pc.tok_b
             |CROSS JOIN tp CROSS JOIN tt
             |WHERE c_ab >= 5
             |ORDER BY pmi_micronats DESC, tok_a, tok_b LIMIT 20""".stripMargin)),

    QueryDef("text_repetition",
      // duplicate-3-gram fraction, the corpus-filtering repetition signal
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.repetitionRatio(col("text"), 3).as("rep3"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id,
              |  CASE WHEN len(string_split(text,' ')) - 2 <= 0 THEN 0.0
              |       ELSE 1.0 - CAST(len($ShinglesSql) AS DOUBLE)
              |              / (len(string_split(text,' ')) - 2) END AS rep3
              |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("text_normalize",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.normalize(col("text")).as("norm"),
          (length(col("text")) - length(TextAnalysis.normalize(col("text"))))
            .as("n_saved"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  regexp_replace(lower(trim(text)), ' +', ' ', 'g') AS norm,
             |  CAST(length(text) - length(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS INT) AS n_saved
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("salient_terms",
      // top-3 tf/df salient terms per document (tf-idf ranking with the
      // log-free 1/df weight — same ordering, engine-exact arithmetic)
      (s, dir) => TextAnalysis.salientTerms(Tables.documents(s, dir),
          "doc_id", "text", topK = 3)
        .orderBy("doc_id", "term_rank"),
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
             |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
             |r AS (SELECT doc_id, term, tf, df, CAST(tf AS DOUBLE) / df AS score,
             |        row_number() OVER (PARTITION BY doc_id
             |          ORDER BY CAST(tf AS DOUBLE) / df DESC, term ASC) AS term_rank
             |      FROM tf JOIN dfreq USING (term))
             |SELECT doc_id, term_rank, term, tf, df, score FROM r
             |WHERE term_rank <= 3 ORDER BY doc_id, term_rank""".stripMargin)),

    QueryDef.headline("salient_terms_by_source",
      // c-TF-IDF (BERTopic topic-word score): each SOURCE as one pseudo-
      // document, term scored tf * ln(n_sources/gdf), micronat-quantized
      // right after the ln so the top-5 cut is engine-exact; terms present
      // in every source score 0 and drop out (the boilerplate filter)
      (s, dir) => TextAnalysis.salientTermsByGroup(
          Tables.documents(s, dir), "source", "text", topK = 5)
        .orderBy("source", "term_rank"),
      None,
      dynOracle = Some { (s, dir) =>
        val n = Tables.documents(s, dir)
          .select(col("source")).distinct().count()
        s"""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS term
           |  FROM documents),
           |tf AS (SELECT source, term, count(*) AS tf FROM tok GROUP BY source, term),
           |gdf AS (SELECT term, count(*) AS gdf FROM tf GROUP BY term),
           |sc AS (SELECT source, term, tf, gdf,
           |    CAST(floor(tf * ln(CAST($n AS DOUBLE) / gdf) * 1e6 + 0.5) AS BIGINT) AS score_micronat
           |  FROM tf JOIN gdf USING (term)),
           |r AS (SELECT *, row_number() OVER (PARTITION BY source
           |        ORDER BY score_micronat DESC, term ASC) AS term_rank
           |      FROM sc WHERE score_micronat > 0)
           |SELECT source, term_rank, term, tf, gdf, score_micronat
           |FROM r WHERE term_rank <= 5 ORDER BY source, term_rank""".stripMargin
      }),

    QueryDef.headline("text_chunk",
      // fixed-window word chunking with overlap (width 32, stride 24) —
      // the tokenize-and-pack prep stage; oracle recomputes every window
      (s, dir) => TextAnalysis.chunk(Tables.documents(s, dir),
          "doc_id", "text", width = 32, stride = 24)
        .orderBy("doc_id", "chunk_idx"),
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t,
             |               len(string_split(text, ' ')) AS n FROM documents),
             |c AS (SELECT doc_id, t,
             |        CASE WHEN n <= 32 THEN 1
             |             ELSE CAST(floor((n - 32 + 23) / 24) AS INT) + 1 END AS nc
             |      FROM d),
             |e AS (SELECT doc_id, t, unnest(generate_series(0, nc - 1)) AS ci FROM c)
             |SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
             |       array_to_string(t[ci * 24 + 1 : ci * 24 + 32], ' ') AS chunk_text
             |FROM e ORDER BY doc_id, chunk_idx""".stripMargin)),

    QueryDef.headline("seq_fim_transform",
      // fill-in-the-middle (PSM) reordering with seeded-hash cut points —
      // nonempty prefix/middle guaranteed, suffix may be empty, < 2-token
      // docs pass through with fim_applied = 0; oracle rebuilds the exact
      // PSM string from the same 32-bit md5-slice hashes
      (s, dir) => Packing.fimTransform(Tables.documents(s, dir),
          "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
              |c AS (SELECT doc_id, text, tk, len(tk) AS n,
              |        ${md5SliceSql("'fim42#|1|' || CAST(doc_id AS VARCHAR)")} AS h1,
              |        ${md5SliceSql("'fim42#|2|' || CAST(doc_id AS VARCHAR)")} AS h2
              |      FROM t),
              |d AS (SELECT doc_id, text, tk, n, h2,
              |        CASE WHEN n >= 2 THEN h1 % (n - 1) + 1 ELSE n END AS cut1
              |      FROM c),
              |e AS (SELECT doc_id, text, tk, n, cut1,
              |        CASE WHEN n >= 2 THEN cut1 + 1 + h2 % (n - cut1) ELSE n END AS cut2
              |      FROM d)
              |SELECT doc_id, CAST(n AS INT) AS n_tokens,
              |  CAST(n >= 2 AS INT) AS fim_applied,
              |  CAST(CASE WHEN n >= 2 THEN cut1 ELSE 0 END AS INT) AS prefix_len,
              |  CAST(CASE WHEN n >= 2 THEN cut2 - cut1 ELSE 0 END AS INT) AS middle_len,
              |  CAST(CASE WHEN n >= 2 THEN n - cut2 ELSE 0 END AS INT) AS suffix_len,
              |  md5(CASE WHEN n >= 2
              |      THEN array_to_string(tk[1:CAST(cut1 AS INT)], ' ') || ' <SUF> '
              |        || coalesce(array_to_string(tk[CAST(cut2 + 1 AS INT):CAST(n AS INT)], ' '), '') || ' <MID> '
              |        || array_to_string(tk[CAST(cut1 + 1 AS INT):CAST(cut2 AS INT)], ' ')
              |      ELSE text END) AS psm_md5
              |FROM e ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("text_normalize_nfc",
      // Unicode NFC canonical composition — the ASCII corpus is
      // augmented with deterministic decomposed (e + combining acute,
      // doc_id%3) and precomposed (é, doc_id%5) tokens so both the
      // changed and already-normal paths are oracle-exercised; DuckDB's
      // nfc_normalize is the reference implementation
      (s, dir) => {
        def aug = concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit(" caf" + "e" + "́")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 0,
            lit(" caf" + "é")).otherwise(lit("")))
        TextClean.nfcReport(
            Tables.documents(s, dir).select(col("doc_id"), aug.as("text")),
            "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH a AS (SELECT doc_id, text
             |  || CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769) ELSE '' END
             |  || CASE WHEN doc_id % 5 = 0 THEN ' caf' || chr(233) ELSE '' END AS t
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(nfc_normalize(t) != t AS INT) AS changed,
             |  CAST(len(t) AS INT) AS n_chars_before,
             |  CAST(len(nfc_normalize(t)) AS INT) AS n_chars_after,
             |  md5(nfc_normalize(t)) AS normalized_md5
             |FROM a ORDER BY doc_id""".stripMargin)),

    QueryDef("text_strip_markup",
      // HTML-to-text gate: wrap each doc in deterministic markup, strip it,
      // and prove the round trip recovers the original text exactly
      (s, dir) => {
        def html = concat(lit("<p id=\""), col("doc_id").cast("string"),
          lit("\"><b>"), col("text"), lit("</b></p>"))
        Tables.documents(s, dir).select(col("doc_id"),
          (TextClean.stripMarkup(html) === col("text")).cast("int")
            .as("roundtrip_ok"),
          md5(TextClean.stripTags(html)).as("stripped_md5"))
          .orderBy("doc_id")
      },
      Some("""WITH h AS (SELECT doc_id, text,
             |  '<p id="' || CAST(doc_id AS VARCHAR) || '"><b>' || text || '</b></p>' AS html
             |  FROM documents)
             |SELECT doc_id,
             |  CAST(trim(regexp_replace(regexp_replace(html, '<[^>]*>', '', 'g'), ' +', ' ', 'g')) = text AS INT) AS roundtrip_ok,
             |  md5(regexp_replace(html, '<[^>]*>', '', 'g')) AS stripped_md5
             |FROM h ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("seq_pack",
      // concatenate-and-chunk sequence packing (budget 256 tokens), packed
      // per source shard — the pack cumsum is shard-partitioned, never a
      // single global ordered stream
      (s, dir) => Packing.packedStats(
          Tables.documents(s, dir).select(col("doc_id"), col("source"),
            TextAnalysis.tokenCountWs(col("text")).as("tok")),
          "doc_id", "tok", "source", budget = 256)
        .orderBy("source", "seq_id"),
      Some("""WITH t AS (SELECT source, doc_id, len(string_split(text,' ')) AS tok FROM documents),
             |c AS (SELECT source, doc_id, tok,
             |        COALESCE(sum(tok) OVER (PARTITION BY source ORDER BY doc_id
             |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
             |      FROM t)
             |SELECT source, CAST(floor(CAST(cum AS DOUBLE) / 256) AS BIGINT) AS seq_id,
             |       count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS n_tokens
             |FROM c GROUP BY source, seq_id ORDER BY source, seq_id""".stripMargin)),

    QueryDef.headline("tokenize_unigram_viterbi",
      // unigram-LM subword segmentation (Kudo 2018 — SentencePiece's
      // Viterbi decode): every distinct word segmented into the
      // maximum-likelihood piece sequence under a corpus-count unigram
      // piece LM (micronat-quantized), ties to the longest last piece.
      // Type-level: one corpus shuffle (word histogram), then the gram
      // census, score join, and the row-local (best[], ptr[]) DP fold
      // all run over DISTINCT words. Oracle replays the DP and the
      // backward walk as recursive CTEs carrying the same arrays
      (s, dir) => graft.functions.Unigram.viterbiSegment(
          Tables.documents(s, dir), "text")
        .orderBy("word"),
      Some(s"""WITH RECURSIVE
             |$pieceCensusSql,
             |${pieceScoresSql(0)},
             |${wordMapSql(0)},
             |st AS (
             |  SELECT word, m, 0 AS i, [CAST(0 AS BIGINT)] AS best,
             |         CAST([] AS INT[]) AS ptr
             |  FROM wm0
             |  UNION ALL
             |  SELECT word, m, i + 1,
             |         list_append(best, cand[1]),
             |         list_append(ptr, CAST(cand[2] AS INT))
             |  FROM (
             |    SELECT *, list_max(list_transform(
             |      generate_series(1, least(4, i + 1)),
             |      l -> [best[i + 2 - l]
             |              + m[substr(word, CAST(i + 2 - l AS INT),
             |                  CAST(l AS INT))][1],
             |            CAST(l AS BIGINT)])) AS cand
             |    FROM st WHERE i < length(word))),
             |fin AS (
             |  SELECT word, best[length(word) + 1] AS score_micronats, ptr,
             |         CAST(length(word) AS INT) AS n
             |  FROM st WHERE i = length(word)),
             |wk AS (
             |  SELECT word, ptr, n AS pos, CAST([] AS VARCHAR[]) AS ps
             |  FROM fin
             |  UNION ALL
             |  SELECT word, ptr, pos - ptr[pos] AS pos,
             |         list_prepend(substr(word, CAST(pos - ptr[pos] + 1 AS INT),
             |           CAST(ptr[pos] AS INT)), ps) AS ps
             |  FROM wk WHERE pos > 0)
             |SELECT w.word, h.freq, CAST(len(k.ps) AS INT) AS n_pieces,
             |  w.score_micronats, array_to_string(k.ps, ' ') AS segmented
             |FROM fin w JOIN wh h ON w.word = h.word
             |JOIN (SELECT word, ps FROM wk WHERE pos = 0) k
             |  ON w.word = k.word
             |ORDER BY w.word""".stripMargin)),

    QueryDef.headline("unigram_learn",
      // unigram-LM vocabulary LEARNING (the other half of Kudo 2018):
      // 2 hard-EM rounds over the seed gram census — each round
      // re-segments the distinct words under the current model
      // (Viterbi-best, ties to the longest piece), re-counts pieces
      // frequency-weighted, and prunes multi-char pieces used < 2
      // times (single chars floored at count 1 — coverage). Type-level
      // like the KN family: one corpus shuffle, every round
      // model-sized. Oracle unrolls both rounds as recursive-CTE
      // decodes (the BPE unrolling pattern)
      (s, dir) => graft.functions.Unigram.learn(
          Tables.documents(s, dir), "text")
        .orderBy("piece"),
      Some(unigramLearnOracleSql(2, 2, segment = false))),

    QueryDef.headline("unigram_learn_soft",
      // SOFT-EM vocabulary learning — Kudo 2018's actual training loop
      // (the lattice-marginal E-step; unigram_learn keeps the
      // documented hard-EM variant): forward/backward quantized
      // log-sum-exp DPs per distinct word, expected piece counts
      // quantized to integer MICROCOUNTS before any aggregation (every
      // sum exact and order-free), same seed census and prune
      // scaffolding. Oracle replays both rounds' lattices as recursive
      // CTEs with the identical per-step quantization
      (s, dir) => graft.functions.Unigram.learnSoft(
          Tables.documents(s, dir), "text")
        .orderBy("piece"),
      Some(unigramLearnSoftOracleSql(2, 2))),

    QueryDef("unigram_learn_segment",
      // the learned-vocab segmentation census: every distinct word
      // decoded under the vocabulary unigram_learn produced — the
      // tokenizer a production pipeline actually ships. Oracle = the
      // learning replay plus one more unrolled decode round. Off the
      // bench: it re-runs the whole hard learner plus one decode, so its
      // timing is unigram_learn's x1.5 with no new scale path
      (s, dir) => graft.functions.Unigram.learnSegment(
          Tables.documents(s, dir), "text")
        .orderBy("word"),
      Some(unigramLearnOracleSql(2, 2, segment = true))),

    QueryDef("unigram_segment_soft",
      // decode under the SOFT-learned vocabulary — the tokenizer
      // Kudo's actual loop ships (soft-EM training + Viterbi decode),
      // completing for the soft twin what unigram_learn_segment does
      // for the hard one. Oracle = the soft-learning replay plus one
      // unrolled hard-decode round over its minted scores. Off the
      // bench for unigram_learn_segment's reason: it re-runs the whole
      // soft learner plus one decode
      (s, dir) => graft.functions.Unigram.segmentSoft(
          Tables.documents(s, dir), "text")
        .orderBy("word"),
      Some(unigramLearnSoftOracleSql(2, 2, segment = true))),

    QueryDef.headline("unigram_sample_segments",
      // subword-regularization sampling (Kudo 2018 §4): 2 seeded FFBS
      // draws per distinct word from p(seg)^0.5 under the seed census
      // model — forward quantized-lse lattice over temperature-scaled
      // scores, backward walk drawing each piece from integer microprob
      // weights with an md5-slice threshold (the seeded-Laplace
      // discipline: deterministic, and the oracle replays every draw
      // bit-exactly). Type-level: lattice + walk are row-local folds
      // over distinct words
      (s, dir) => graft.functions.Unigram.sampleSegments(
          Tables.documents(s, dir), "text",
          nSamples = 2, alphaPpm = 500000L, seed = "r17ss")
        .orderBy("word", "sample_id"),
      Some(unigramSampleOracleSql(2, 500000L, "r17ss"))),

    QueryDef.headline("bm25_topk",
      // BM25 ranked retrieval: top-10 docs for two term queries under the
      // Lucene/Okapi score; the oracle recomputes corpus stats (N, total
      // length), per-term df, every micronat-quantized partial score with
      // the identical operation order, the integer per-doc sum, and the
      // (score desc, id asc) ranking
      (s, dir) => TextAnalysis.bm25TopK(Tables.documents(s, dir),
          "doc_id", "text",
          Seq("q_scan" -> Seq("scan", "table", "column"),
              "q_join" -> Seq("join", "merge", "hash")),
          k1 = 1.2, b = 0.75, topK = 10)
        .orderBy("qid", "rnk"),
      Some {
        val (k1, b) = (1.2, 0.75)
        s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
           |           FROM documents),
           |st AS (SELECT count(*) AS n, sum(len(t)) AS tot FROM d),
           |tf AS (SELECT doc_id, dl, tok AS term, count(*) AS tf
           |       FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS tok FROM d)
           |       WHERE tok IN ('scan','table','column','join','merge','hash')
           |       GROUP BY 1, 2, 3),
           |dft AS (SELECT term, count(*) AS dft FROM tf GROUP BY 1),
           |q AS (SELECT * FROM (VALUES
           |    ('q_scan','scan'), ('q_scan','table'), ('q_scan','column'),
           |    ('q_join','join'), ('q_join','merge'), ('q_join','hash'))
           |  v(qid, term)),
           |sc AS (SELECT q.qid, tf.doc_id,
           |    CAST(floor(ln(1.0 + (st.n - dft.dft + 0.5) / (dft.dft + 0.5))
           |      * (tf.tf * ${fmtD(k1 + 1.0)})
           |      / (tf.tf + ${fmtD(k1)} * (${fmtD(1.0 - b)}
           |        + ${fmtD(b)} * ((tf.dl * st.n) / st.tot)))
           |      * 1000000.0 + 0.5) AS BIGINT) AS s
           |  FROM tf JOIN q USING (term) JOIN dft USING (term)
           |  CROSS JOIN st),
           |pd AS (SELECT qid, doc_id, CAST(sum(s) AS BIGINT)
           |      AS score_micronats,
           |    CAST(count(*) AS BIGINT) AS n_terms_hit
           |  FROM sc GROUP BY 1, 2),
           |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY qid
           |        ORDER BY score_micronats DESC, doc_id) AS INT) AS rnk
           |  FROM pd)
           |SELECT qid, doc_id, score_micronats, n_terms_hit, rnk FROM r
           |WHERE rnk <= 10 ORDER BY qid, rnk""".stripMargin
      }),

    QueryDef("token_budget_trim",
      // best-first selection under a global token budget: the oracle is the
      // straightforward global-window cumsum; the engine computes the SAME
      // running total via quantile buckets + literal offsets (no global
      // window — integer token sums make the equivalence exact)
      (s, dir) => {
        val scored = TextAnalysis.qualityMetrics(Tables.documents(s, dir))
          .withColumn("quality_score", TextAnalysis.qualityScore())
        graft.functions.Sampling.budgetTrim(scored, "doc_id", "quality_score",
            "n_tokens", budget = 10000L)
          .select("doc_id", "quality_score", "n_tokens", "cum_tokens")
          .orderBy("doc_id")
      },
      Some(s"""WITH $QualityScoreSql,
              |r AS (
              |  SELECT doc_id, quality_score, n_tokens,
              |    CAST(sum(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
              |  FROM qs)
              |SELECT doc_id, quality_score, CAST(n_tokens AS INT) AS n_tokens, cum_tokens
              |FROM r WHERE cum_tokens <= 10000 ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("token_budget_per_lang",
      // the mixture builder's real contract — best-first selection under
      // PER-LANGUAGE token budgets (en 4000 / zh 2500 / rest 1500): same
      // windowless bucketed cumsum, per-(lang, bucket) offsets from a
      // broadcast metadata table; oracle is the per-lang global window
      (s, dir) => {
        val scored = TextAnalysis.qualityMetrics(Tables.documents(s, dir))
          .withColumn("quality_score", TextAnalysis.qualityScore())
        graft.functions.Sampling.budgetTrimPerStratum(scored, "doc_id",
            "quality_score", "n_tokens", "lang",
            budgets = Map("en" -> 4000L, "zh" -> 2500L),
            defaultBudget = 1500L)
          .select("doc_id", "lang", "quality_score", "n_tokens", "cum_tokens")
          .orderBy("doc_id")
      },
      Some(s"""WITH $QualityScoreSql,
              |r AS (
              |  SELECT doc_id, lang, quality_score, n_tokens,
              |    CAST(sum(n_tokens) OVER (PARTITION BY lang
              |      ORDER BY quality_score DESC, doc_id
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
              |  FROM qs)
              |SELECT doc_id, lang, quality_score, CAST(n_tokens AS INT) AS n_tokens, cum_tokens
              |FROM r WHERE cum_tokens <= CASE lang WHEN 'en' THEN 4000
              |                                     WHEN 'zh' THEN 2500
              |                                     ELSE 1500 END
              |ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("phrase_search_positional",
      // exact phrase search as an inverted-index join: each term's
      // postings are pruned BEFORE the shuffle, the k lists hash-join on
      // (doc, aligned start) — work scales with the phrase's posting
      // lists, never the corpus
      (s, dir) => TextAnalysis.phraseSearch(Tables.documents(s, dir),
          "doc_id", "text", Seq("table", "scan"))
        .orderBy("doc_id", "start"),
      Some("""WITH s AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |p AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM s)
             |SELECT doc_id, CAST(i - 1 AS INT) AS start
             |FROM p
             |WHERE tk[i] = 'table' AND i + 1 <= len(tk) AND tk[i + 1] = 'scan'
             |ORDER BY doc_id, start""".stripMargin)),

    QueryDef.headline("boilerplate_ngrams",
      // cross-document boilerplate census (the C4/RefinedWeb removal
      // read): 5-grams ranked by DISTINCT-document frequency — shared
      // chrome/footer templates surface at the top. One gram-keyed
      // shuffle + TakeOrdered top-50
      (s, dir) => TextAnalysis.boilerplateNgrams(
          Tables.documents(s, dir), "doc_id", "text"),
      Some("""WITH tk AS (
             |  SELECT doc_id,
             |    list_filter(string_split(text, ' '), x -> x <> '') AS t
             |  FROM documents),
             |g AS (SELECT doc_id, array_to_string(t[i:i+4], ' ') AS gram
             |      FROM tk,
             |        unnest(generate_series(1, len(t) - 4)) AS u(i)
             |      WHERE len(t) >= 5)
             |SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             |  CAST(count(*) AS BIGINT) AS n_occurrences
             |FROM g GROUP BY gram
             |ORDER BY n_docs DESC, gram LIMIT 50""".stripMargin)),

    QueryDef.headline("seq_span_corrupt",
      // T5/UL2 span-corruption masking census: deterministic ~5% span
      // starts (md5-slice hash of doc#pos), spans of 3, overlapping runs
      // merge to one sentinel; per-doc buffer-sizing numbers. Two per-doc
      // windows + one rollup — no self-join, no global window
      (s, dir) => TextAnalysis.spanCorruptCensus(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH tk AS (
              |  SELECT doc_id,
              |    list_filter(string_split(text, ' '), x -> x <> '') AS t
              |  FROM documents),
              |pos AS (SELECT doc_id,
              |          unnest(generate_series(1, len(t))) AS p FROM tk),
              |st AS (SELECT doc_id, p,
              |    (${md5SliceSql(
                     "CAST(doc_id AS VARCHAR) || '#' || CAST(p AS VARCHAR)")}
              |     % 20 = 0) AS start
              |  FROM pos),
              |mk AS (SELECT doc_id, p, start,
              |    max(CASE WHEN start THEN 1 ELSE 0 END) OVER
              |      (PARTITION BY doc_id ORDER BY p
              |       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) = 1
              |      AS masked
              |  FROM st),
              |rs AS (SELECT doc_id, start, masked,
              |    masked AND coalesce(NOT lag(masked) OVER
              |      (PARTITION BY doc_id ORDER BY p), TRUE) AS run_start
              |  FROM mk)
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
              |  CAST(sum(CASE WHEN start THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_span_starts,
              |  CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_masked,
              |  CAST(sum(CASE WHEN run_start THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_sentinels,
              |  CAST(count(*) - sum(CASE WHEN masked THEN 1 ELSE 0 END)
              |    + sum(CASE WHEN run_start THEN 1 ELSE 0 END) AS BIGINT)
              |    AS packed_len
              |FROM rs GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("token_zipf_slope",
      // corpus-QA audit: least-squares slope of quantized-log freq vs
      // quantized-log rank, HEAD-FIT over the top-4096 ranks (freq DESC,
      // token ASC — TakeOrdered, no global window; the fit itself is
      // declared-constant-bounded driver metadata math). Natural text
      // sits near -1e6 ppm; templated/spam corpora drift. Full-vocab
      // totals ride a separate windowless aggregate. The oracle applies
      // the identical top-4096 restriction (= the full vocabulary on
      // gate data)
      (s, dir) => TextAnalysis.zipfSlope(Tables.documents(s, dir), "text"),
      Some("""WITH tok AS (
             |  SELECT unnest(string_split(text, ' ')) AS t FROM documents),
             |cnt AS (SELECT t, count(*) AS n FROM tok
             |        WHERE t <> '' GROUP BY 1),
             |tot AS (
             |  SELECT CAST(count(*) AS BIGINT) AS n_vocab,
             |    CAST(sum(n) AS BIGINT) AS n_token_occurrences
             |  FROM cnt),
             |rk AS (
             |  SELECT n, r FROM (
             |    SELECT n, row_number() OVER (ORDER BY n DESC, t) AS r
             |    FROM cnt) WHERE r <= 4096),
             |q AS (
             |  SELECT n,
             |    CAST(floor(ln(CAST(r AS DOUBLE)) * 1000000 + 0.5)
             |      AS BIGINT) AS x,
             |    CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000 + 0.5)
             |      AS BIGINT) AS y
             |  FROM rk),
             |m AS (
             |  SELECT CAST(count(*) AS BIGINT) AS k,
             |    CAST(sum(x) AS HUGEINT) AS sx,
             |    CAST(sum(y) AS HUGEINT) AS sy,
             |    CAST(sum(x * y) AS HUGEINT) AS sxy,
             |    CAST(sum(x * x) AS HUGEINT) AS sxx
             |  FROM q)
             |SELECT t.n_vocab, t.n_token_occurrences,
             |  CAST(CASE WHEN m.k * m.sxx - m.sx * m.sx = 0 THEN 0
             |    ELSE ((m.k * m.sxy - m.sx * m.sy) * 1000000)
             |         // (m.k * m.sxx - m.sx * m.sx) END AS BIGINT)
             |    AS zipf_slope_ppm
             |FROM tot t, m""".stripMargin)))
}
