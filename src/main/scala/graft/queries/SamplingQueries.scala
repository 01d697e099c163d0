package graft.queries

import graft.functions.{Dedup, Packing, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import OracleSql._

/** Sampling and data mixture: stratified, reservoir, weighted and epoch
  * samplers, temperature, UniMax and DoReMi mixtures, DSIR selection,
  * and split assignment with its leakage audits. */
object SamplingQueries {

  /** The DoReMi oracles' shared head: [[knBigramScoreSql]] over every
    * document, then `bd` (lang, nt, nll), each language's transition count
    * and summed NLL in micronats under the landed LM. */
  private val doremiNllSql: String =
    s"""${knBigramScoreSql("lang", "TRUE")},
       |bd AS (SELECT lang, CAST(count(*) AS BIGINT) AS nt,
       |         CAST(sum(-m) AS BIGINT) AS nll
       |       FROM sc GROUP BY 1)""".stripMargin

  /** DuckDB replay of [[graft.functions.Sampling.unimaxBudgets]]: a
    * recursive CTE walking the languages smallest-first, each granted
    * min(corpus x `epochs`, remaining / languages left) of `budget`. */
  private def unimaxOracleSql(budget: Long, epochs: Int): String =
    s"""WITH RECURSIVE c AS (
       |  SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
       |  FROM documents GROUP BY 1),
       |o AS (SELECT lang, n_tokens,
       |        CAST(row_number() OVER (ORDER BY n_tokens, lang) AS BIGINT) AS rn,
       |        CAST(count(*) OVER () AS BIGINT) AS n
       |      FROM c),
       |a(rn, lang, n_tokens, b, rem, n) AS (
       |  SELECT rn, lang, n_tokens,
       |    least(n_tokens * $epochs, $budget // n) AS b,
       |    $budget - least(n_tokens * $epochs, $budget // n) AS rem, n
       |  FROM o WHERE rn = 1
       |  UNION ALL
       |  SELECT o.rn, o.lang, o.n_tokens,
       |    least(o.n_tokens * $epochs, a.rem // (a.n - a.rn)) AS b,
       |    a.rem - least(o.n_tokens * $epochs, a.rem // (a.n - a.rn)), a.n
       |  FROM a JOIN o ON o.rn = a.rn + 1)
       |SELECT lang, n_tokens, CAST(b AS BIGINT) AS budget_tokens,
       |  CASE WHEN n_tokens = 0 THEN 0
       |       ELSE CAST((1000000 * CAST(b AS HUGEINT)) // n_tokens AS BIGINT)
       |  END AS epochs_micro
       |FROM a ORDER BY lang""".stripMargin

  /** DuckDB replay of [[graft.functions.Sampling.temperatureRates]] at
    * T = 0.5 over the stratum counts `c` (lang, cnt): `tot`, `s` the sqrt
    * weights, `m` the largest achievable sample and `th` (lang, th), each
    * stratum's 32-bit md5-slice keep threshold. */
  private val temperatureThresholdsSql: String =
    """tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS t FROM c),
      |s AS (SELECT lang, cnt, sqrt(CAST(cnt AS DOUBLE) / t) AS w
      |      FROM c CROSS JOIN tot),
      |m AS (SELECT min(CAST(cnt AS DOUBLE) / w) AS n FROM s),
      |th AS (SELECT lang,
      |         CAST(floor(least(1.0, w * (SELECT n FROM m) / CAST(cnt AS DOUBLE))
      |              * 4294967296.0 + 0.5) AS BIGINT) AS th
      |       FROM s)""".stripMargin

  /** The 80/10/10 train/val/test split of the split gates. */
  private val Splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** DuckDB rendering of [[graft.functions.Sampling.splitAssign]] over
    * [[Splits]] for the 32-bit md5 slice `h`. */
  private def splitCaseSql(h: String): String = {
    val th = graft.functions.Sampling.splitThresholds(Splits)
    s"""CASE WHEN $h < ${th(0)._2} THEN 'train'
       |       WHEN $h < ${th(1)._2} THEN 'val'
       |       ELSE 'test' END""".stripMargin
  }

  /** DuckDB replay of [[graft.functions.TextAnalysis
    * .doremiWeightTrajectory]]: the landed-LM per-domain NLL aggregate,
    * then `steps` UNROLLED EG iterations — weighted-mean excess, clipped
    * exp, ppm renormalization — carried between steps as MATERIALIZED
    * HUGEINT weight CTEs (w{i}/e{i} are each referenced twice per step;
    * inlined they would go exponential — the BPE/pagerank oracle
    * lesson). Final SELECT joins every w{i} for the trajectory average. */
  private def doremiTrajectoryOracleSql(steps: Int): String = {
    val head =
      s"""$doremiNllSql,
         |av AS (SELECT lang, nt, CAST(nll // nt AS HUGEINT) AS v FROM bd),
         |nd AS (SELECT CAST(count(*) AS HUGEINT) AS nd FROM av),
         |w0 AS MATERIALIZED (SELECT lang, nt, v,
         |        CAST(1000000 // nd AS HUGEINT) AS a
         |      FROM av CROSS JOIN nd)""".stripMargin
    val stepCtes = (1 to steps).map { i =>
      s"""m$i AS (SELECT CAST(sum(a * v) AS HUGEINT) AS sm,
         |          CAST(sum(a) AS HUGEINT) AS sa FROM w${i - 1}),
         |e$i AS MATERIALIZED (SELECT lang, nt, v, a,
         |        CAST(floor(exp(CAST(least(v - sm // sa, 13800000)
         |            AS DOUBLE) / 1000000.0) * 1000000 + 0.5)
         |          AS HUGEINT) AS e
         |      FROM w${i - 1} CROSS JOIN m$i),
         |z$i AS (SELECT CAST(sum(a * e) AS HUGEINT) AS z FROM e$i),
         |w$i AS MATERIALIZED (SELECT lang, nt, v,
         |        CAST((a * e * 1000000) // z AS HUGEINT) AS a
         |      FROM e$i CROSS JOIN z$i)""".stripMargin
    }.mkString(",\n")
    val trajSum = (1 to steps).map(i => s"t$i.a").mkString(" + ")
    val joins = (2 to steps).map(i => s"JOIN w$i t$i USING (lang)")
      .mkString(" ")
    s"""WITH $head,
       |$stepCtes
       |SELECT t1.lang, t1.nt AS n_transitions,
       |  CAST(t1.v AS BIGINT) AS avg_nll_micronats,
       |  CAST(t$steps.a AS BIGINT) AS weight_ppm,
       |  CAST(($trajSum) // $steps AS BIGINT) AS avg_weight_ppm
       |FROM w1 t1 $joins ORDER BY lang""".stripMargin
  }

  /** Mixing weights for the `sample_stratified` gate query (ListMap: the
    * CASE chain must fold in a stable order in both engines). */
  private val StratRates = scala.collection.immutable.ListMap(
    "en" -> 0.5, "zh" -> 0.25)

  private val StratDefault = 0.1

  /** Target mixture for corpus_mix — exact binary fractions summing to 1.0,
    * so Scala's normalization (w / total) is bit-exact identity and the
    * oracle can embed the weights as plain literals. */
  private val MixWeights = scala.collection.immutable.ListMap(
    "en" -> 0.5, "es" -> 0.25, "de" -> 0.125, "fr" -> 0.125)

  def defs: Seq[QueryDef] = Seq(

    QueryDef.headline("mixture_unimax",
      // UniMax budget allocation (Chung et al. 2023): total budget 25000
      // tokens, epoch cap 1 — languages visited smallest-first, each gets
      // min(corpus x cap, remaining / langs-left); capped languages' slack
      // flows to larger ones. Integer floor arithmetic throughout; the
      // oracle replays the sequential water-filling with a recursive CTE
      (s, dir) => graft.functions.Sampling.unimaxBudgets(
          Tables.documents(s, dir), "lang", "text",
          totalBudget = 25000L, maxEpochs = 1)
        .orderBy("lang"),
      Some(unimaxOracleSql(budget = 25000, epochs = 1))),

    QueryDef.headline("mixture_unimax_epochs",
      // the round-11 verdict #6 gate: UniMax where the EPOCH CAP binds —
      // budget 40000 with cap 2 epochs makes the smaller languages hit
      // min(2 x corpus, fair share) on the cap side (at sf0.01 four of
      // five languages cap and their slack water-fills into en; at
      // sf0.001 two cap mid-walk), oracle-pinning the cap-then-slack
      // redistribution branch the maxEpochs=1 gate never enters. Same
      // recursive-CTE replay, epoch multiplier 2
      (s, dir) => graft.functions.Sampling.unimaxBudgets(
          Tables.documents(s, dir), "lang", "text",
          totalBudget = 40000L, maxEpochs = 2)
        .orderBy("lang"),
      Some(unimaxOracleSql(budget = 40000, epochs = 2))),

    QueryDef.headline("mixture_doremi_weights",
      // DoReMi-style domain reweighting (Xie et al. 2023): one
      // exponentiated-gradient step over per-domain EXCESS LOSS under
      // the landed reference LM — hard domains upweight, memorized
      // domains shrink. Means are toward-zero integer divisions; the
      // only double op is one exp per DOMAIN, ppm-quantized before the
      // normalizing sum; the EG step clips at +13.8 nats
      (s, dir) => TextAnalysis.doremiDomainWeights(
          TextAnalysis.knBigramModelRead(s, Artifacts.knModelPath(s, dir)),
          Tables.documents(s, dir), "lang", "text")
        .orderBy("lang"),
      Some(s"""WITH $doremiNllSql,
              |tt AS (SELECT CAST(sum(nll) AS HUGEINT) AS tn,
              |              CAST(sum(nt) AS HUGEINT) AS tc FROM bd),
              |ex AS (SELECT lang, nt, CAST(nll // nt AS BIGINT) AS avg_nll,
              |         CAST(nll // nt AS BIGINT)
              |           - CAST(tn // tc AS BIGINT) AS excess
              |       FROM bd CROSS JOIN tt),
              |ee AS (SELECT lang, nt, avg_nll, excess,
              |         CAST(floor(exp(CAST(least(excess, 13800000) AS DOUBLE)
              |           / 1000000.0) * 1000000 + 0.5) AS BIGINT) AS e
              |       FROM ex),
              |z AS (SELECT CAST(sum(e) AS HUGEINT) AS z FROM ee)
              |SELECT lang, nt AS n_transitions, avg_nll AS avg_nll_micronats,
              |  CAST(excess AS BIGINT) AS excess_micronats,
              |  CAST((CAST(e AS HUGEINT) * 1000000) // z AS BIGINT) AS weight_ppm
              |FROM ee CROSS JOIN z ORDER BY lang""".stripMargin)),

    QueryDef.headline("mixture_doremi_trajectory",
      // the DoReMi fixed-point loop (Xie et al. 2023): 5 EG steps with
      // driver-held |domains| weights — each step measures excess
      // against the CURRENT-mixture-weighted mean (the coupling), clips
      // at +13.8 nats, exponentiates, renormalizes to ppm; output
      // carries the final weights AND the trajectory average (the
      // paper's eq. 2 output). Corpus touched ONCE (one transition
      // shuffle -> |domains| rows collected); every step is driver
      // BigInt arithmetic. Oracle unrolls all 5 steps as MATERIALIZED
      // weight CTEs in HUGEINT
      (s, dir) => TextAnalysis.doremiWeightTrajectory(
          TextAnalysis.knBigramModelRead(s, Artifacts.knModelPath(s, dir)),
          Tables.documents(s, dir), "lang", "text", steps = 5)
        .orderBy("lang"),
      Some(doremiTrajectoryOracleSql(5))),

    QueryDef.headline("sample_stratified",
      // deterministic mixing-weight sampling: membership is a pure hash of
      // the key, so the oracle verifies the EXACT sample, not just its size
      (s, dir) => graft.functions.Sampling.stratifiedSample(
          Tables.documents(s, dir), "doc_id", "lang",
          rates = StratRates, defaultRate = StratDefault)
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some {
        def th(r: Double): Long = math.round(r * 4294967296.0)
        val cases = StratRates.map { case (l, r) =>
          s"WHEN lang = '$l' THEN ${th(r)}"
        }.mkString(" ")
        s"""SELECT doc_id, lang FROM documents
           |WHERE $DocHashSql
           |  < CASE $cases ELSE ${th(StratDefault)} END
           |ORDER BY doc_id""".stripMargin
      }),

    QueryDef.headline("sample_epochs",
      // fractional epoch expansion: src0 x2.5, src1 x0.5, everything else
      // x1.25 — integer copies for all, plus a deterministic hash slice for
      // the extra epoch; the oracle rematerializes every copy
      (s, dir) => graft.functions.Sampling.epochExpand(
          Tables.documents(s, dir), "doc_id", "source",
          Map("src0" -> 2.5, "src1" -> 0.5), defaultEpochs = 1.25)
        .groupBy("source", "epoch")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "epoch"),
      Some {
        def th(f: Double): Long = math.round(f * 4294967296.0)
        s"""WITH h AS (SELECT doc_id, source,
           |    ${md5SliceSql("CAST(doc_id AS VARCHAR) || '#ep'")} AS hv
           |  FROM documents),
           |c AS (SELECT source,
           |    (CASE WHEN source = 'src0' THEN 2 WHEN source = 'src1' THEN 0 ELSE 1 END)
           |    + (CASE WHEN hv < (CASE WHEN source = 'src0' THEN ${th(0.5)}
           |                            WHEN source = 'src1' THEN ${th(0.5)}
           |                            ELSE ${th(0.25)} END)
           |       THEN 1 ELSE 0 END) AS copies
           |  FROM h),
           |e AS (SELECT source, unnest(generate_series(1, copies)) AS epoch
           |      FROM c WHERE copies >= 1)
           |SELECT source, CAST(epoch AS BIGINT) AS epoch, count(*) AS n_docs
           |FROM e GROUP BY source, epoch ORDER BY source, epoch""".stripMargin
      }),

    QueryDef.headline("sample_reservoir",
      // exact-k bottom-k-by-hash "reservoir" per stratum: deterministic
      // membership AND rank, so the oracle verifies the full sample order
      (s, dir) => graft.functions.Sampling.reservoirPerKey(
          Tables.documents(s, dir), "doc_id", "lang", k = 5)
        .select("lang", "sample_rank", "doc_id")
        .orderBy("lang", "sample_rank"),
      Some(s"""WITH r AS (
              |  SELECT lang, doc_id,
              |         row_number() OVER (PARTITION BY lang ORDER BY
              |           $DocHashSql ASC,
              |           doc_id ASC) AS sample_rank
              |  FROM documents)
              |SELECT lang, sample_rank, doc_id FROM r
              |WHERE sample_rank <= 5 ORDER BY lang, sample_rank""".stripMargin)),

    QueryDef("corpus_shuffle",
      // deterministic corpus shuffle for training-order randomization:
      // sort by a seeded hash of the id — a range-partitioned sort on a
      // uniform key (no skew, no global window); re-runs and retries give
      // byte-identical order
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          md5(concat(lit("shuf42#"), col("doc_id").cast("string"))).as("shuffle_key"))
        .orderBy("shuffle_key"),
      Some("""SELECT doc_id, md5('shuf42#' || CAST(doc_id AS VARCHAR)) AS shuffle_key
             |FROM documents ORDER BY shuffle_key""".stripMargin)),

    QueryDef.headline("batch_length_buckets",
      // length-bucketed batching (bucket width 32 tokens, batch size 8,
      // 4 hash slices): one row per batch with its padding bill — the
      // pad-efficiency layout for padded (SFT/eval) batching; the oracle
      // renumbers every batch with the same (bucket, slice, id-order)
      // row_number
      (s, dir) => Packing.lengthBucketBatches(
          Tables.documents(s, dir), "doc_id", "text",
          bucketWidth = 32, batchSize = 8, nSlices = 4)
        .orderBy("bucket", "slice", "batch_id"),
      Some(s"""WITH t AS (SELECT doc_id,
              |    CAST(len(string_split(text,' ')) AS BIGINT) AS n_tokens,
              |    ($DocHashSql) % 4 AS slice
              |  FROM documents),
              |b AS (SELECT doc_id, n_tokens, n_tokens // 32 AS bucket,
              |        CAST(slice AS INT) AS slice FROM t),
              |r AS (SELECT *, (row_number() OVER (PARTITION BY bucket, slice
              |        ORDER BY doc_id) - 1) // 8 AS batch_id FROM b)
              |SELECT bucket, slice, batch_id, count(*) AS n_docs,
              |  max(n_tokens) AS max_tok, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
              |  count(*) * max(n_tokens) - CAST(sum(n_tokens) AS BIGINT) AS pad_tokens
              |FROM r GROUP BY bucket, slice, batch_id
              |ORDER BY bucket, slice, batch_id""".stripMargin)),

    QueryDef.headline("split_assign",
      // deterministic 80/10/10 train/val/test assignment by hashed key —
      // stable under re-runs and corpus appends; oracle recomputes the
      // md5-slice hash and the exact cumulative thresholds
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.functions.Sampling.splitAssign(col("doc_id"),
            Splits).as("split"))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, ${splitCaseSql(DocHashSql)} AS split
              |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("split_leakage_safe",
      // group-k-fold for near-dups: split assignment hashes the near-dup
      // CLUSTER id, so a whole clique lands in one split and eval can
      // never score a near-copy of a training doc. Oracle: RECURSIVE-CTE
      // clusters (exact Jaccard pairs) + the md5 split thresholds, both
      // recomputed from scratch
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
          k = 3, numHashes = 16, threshold = 0.8)
        Dedup.leakageSafeSplit(docs, "doc_id", pairs, Splits)
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE ${nearDupPairsSql(0.8)},
              |${componentsSql("documents", "doc_id")}
              |SELECT id AS doc_id, cluster_id,
              |  ${splitCaseSql(md5SliceSql("CAST(cluster_id AS VARCHAR)"))} AS split
              |FROM clus ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("split_contamination_audit",
      // the audit that motivates split_leakage_safe: count near-dup pairs
      // whose members land in DIFFERENT splits under the plain doc-keyed
      // 80/10/10 assignment (each off-diagonal row is leaked eval signal;
      // the cluster-keyed split has zero by construction — spec-pinned).
      // Oracle recomputes pairs, both hash splits, and the census
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
          k = 3, numHashes = 16, threshold = 0.8)
        val splits = Splits
        val sp = docs.select(col("doc_id"),
          graft.functions.Sampling.splitAssign(col("doc_id"), splits)
            .as("split"))
        pairs
          .join(sp.select(col("doc_id").as("id_a"), col("split").as("_sa")),
            Seq("id_a"))
          .join(sp.select(col("doc_id").as("id_b"), col("split").as("_sb")),
            Seq("id_b"))
          .groupBy(least(col("_sa"), col("_sb")).as("split_lo"),
            greatest(col("_sa"), col("_sb")).as("split_hi"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("split_lo", "split_hi")
      },
      Some(s"""WITH ${nearDupPairsSql(0.8)},
              |sp AS (SELECT doc_id, ${splitCaseSql(DocHashSql)} AS split
              |  FROM documents)
              |SELECT least(a.split, b.split) AS split_lo,
              |  greatest(a.split, b.split) AS split_hi,
              |  count(*) AS n_pairs
              |FROM good JOIN sp a ON a.doc_id = good.id_a
              |JOIN sp b ON b.doc_id = good.id_b
              |GROUP BY 1, 2 ORDER BY split_lo, split_hi""".stripMargin)),

    QueryDef("corpus_mix",
      // domain-mixing rebalance: target lang mixture en/es/de/fr =
      // .5/.25/.125/.125 (zh unweighted -> dropped); the oracle recomputes
      // the per-stratum counts, the achievable corpus size, the keep-rates,
      // and the exact hash membership — end to end in SQL
      (s, dir) => graft.functions.Sampling.rebalanceMixture(
          Tables.documents(s, dir), "doc_id", "lang", MixWeights)
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some {
        val values = MixWeights
          .map { case (l, w) => s"('$l', CAST($w AS DOUBLE))" }.mkString(", ")
        s"""WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS cnt
           |           FROM documents GROUP BY lang),
           |w(lang, wt) AS (VALUES $values),
           |j AS (SELECT c.lang, c.cnt, w.wt FROM c JOIN w ON c.lang = w.lang),
           |m AS (SELECT min(cnt / wt) AS n FROM j),
           |t AS (SELECT lang, CAST(floor(least(1.0, wt * (SELECT n FROM m) / cnt)
           |                              * 4294967296.0 + 0.5) AS BIGINT) AS th
           |      FROM j)
           |SELECT d.doc_id, d.lang FROM documents d JOIN t ON d.lang = t.lang
           |WHERE ${md5SliceSql("CAST(d.doc_id AS VARCHAR)")} < t.th
           |ORDER BY doc_id""".stripMargin
      }),

    QueryDef("corpus_pipeline_temperature",
      // the spec-driven pipeline in temperature mode: token filter ->
      // exact dedup -> temperature-rebalanced sample, all declared in one
      // JSON spec; the oracle replays every stage INCLUDING re-deriving
      // the temperature thresholds from the post-dedup stratum counts
      (s, dir) => graft.spec.CorpusSpec.run(
        Tables.documents(s, dir),
        graft.spec.CorpusSpec.parse("""{
          "filter": {"minTokens": 5, "langs": ["en", "es", "de"]},
          "dedup": {"method": "exact"},
          "sample": {"strataCol": "lang", "temperature": 0.5}}"""))
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some(s"""WITH f AS (
              |  SELECT doc_id, lang, text FROM documents
              |  WHERE lang IN ('en', 'es', 'de')
              |    AND len(string_split(text, ' ')) >= 5),
              |d AS (SELECT *, row_number() OVER (PARTITION BY md5(text)
              |                                   ORDER BY doc_id) AS rn FROM f),
              |k AS (SELECT doc_id, lang FROM d WHERE rn = 1),
              |c AS (SELECT lang, CAST(count(*) AS BIGINT) AS cnt FROM k GROUP BY lang),
              |$temperatureThresholdsSql
              |SELECT k.doc_id, k.lang FROM k JOIN th USING (lang)
              |WHERE $DocHashSql < th.th
              |ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("mixture_temperature",
      // temperature-scaled mixture sampling (target share ∝ p^T, T = 0.5 —
      // the multilingual rebalance that keeps low-resource strata alive):
      // the oracle retrains the whole decision — counts, sqrt weights, the
      // largest achievable size, per-stratum thresholds, and the exact
      // hash membership — in SQL. sqrt/divide/multiply/min are all IEEE
      // correctly rounded and the rate derivation avoids any
      // iteration-order-dependent float sum, so thresholds match
      // bit-for-bit (see Sampling.temperatureRates)
      (s, dir) => graft.functions.Sampling.temperatureSample(
          Tables.documents(s, dir), "doc_id", "lang", temperature = 0.5)
        .select("doc_id", "lang")
        .orderBy("doc_id"),
      Some(s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS cnt
              |           FROM documents GROUP BY lang),
              |$temperatureThresholdsSql
              |SELECT d.doc_id, d.lang FROM documents d JOIN th USING (lang)
              |WHERE $DocHashSql < th.th
              |ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("sample_weighted",
      // quality-proportional sampling: each document's keep-probability IS
      // its quality score (higher quality -> more likely kept), membership
      // a pure hash so the oracle verifies the exact per-row decision —
      // score recomputation, per-row threshold, and hash all re-derived
      (s, dir) => {
        val scored = TextAnalysis.qualityMetrics(Tables.documents(s, dir))
          .withColumn("q", TextAnalysis.qualityScore())
        graft.functions.Sampling.weightedSample(scored, "doc_id", col("q"))
          .select("doc_id", "q")
          .orderBy("doc_id")
      },
      Some(s"""WITH $QualityScoreSql
              |SELECT doc_id, quality_score AS q FROM qs
              |WHERE $DocHashSql < CAST(floor(quality_score * 4294967296.0 + 0.5) AS BIGINT)
              |ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("dsir_select",
      // DSIR importance resampling (Xie et al. 2023): raw docs scored by
      // Σ_features [ln p_target(bucket) − ln p_raw(bucket)] over hashed
      // unigram+bigram features (64 buckets, target = the English slice);
      // the oracle re-derives every hash bucket, both smoothed histograms,
      // each micronat-quantized ln, the integer per-doc sum, and the exact
      // cross-multiplied above-mean selection flag
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.functions.Sampling.dsirWeights(
            docs, docs.filter(col("lang") === "en"), "doc_id", "text",
            dim = 64)
          .orderBy("doc_id")
      },
      Some(s"""WITH tk AS (SELECT doc_id, lang, string_split(text, ' ') AS t
             |            FROM documents),
             |bg AS (SELECT doc_id, lang, t,
             |         unnest(generate_series(1, len(t) - 1)) AS i FROM tk),
             |f AS (
             |  SELECT doc_id, lang, unnest(t) AS f FROM tk
             |  UNION ALL
             |  SELECT doc_id, lang, t[i] || ' ' || t[i + 1] AS f FROM bg),
             |hb AS (SELECT doc_id, lang,
             |    CAST(${md5SliceSql("f")} % 64 AS INT) AS b
             |  FROM f),
             |tc AS (SELECT b, count(*) AS c FROM hb WHERE lang = 'en'
             |       GROUP BY 1),
             |rc AS (SELECT b, count(*) AS c FROM hb GROUP BY 1),
             |tot AS (SELECT (SELECT sum(c) FROM tc) AS tt,
             |               (SELECT sum(c) FROM rc) AS rt),
             |w AS (SELECT g.b,
             |    CAST(floor(ln((COALESCE(tc.c, 0) + 1) / (tot.tt + 64))
             |      * 1000000.0 + 0.5) AS BIGINT)
             |  - CAST(floor(ln((COALESCE(rc.c, 0) + 1) / (tot.rt + 64))
             |      * 1000000.0 + 0.5) AS BIGINT) AS w
             |  FROM (SELECT unnest(generate_series(0, 63)) AS b) g
             |  LEFT JOIN tc USING (b) LEFT JOIN rc USING (b) CROSS JOIN tot),
             |d AS (SELECT hb.doc_id, CAST(count(*) AS BIGINT) AS n_features,
             |    CAST(sum(w.w) AS BIGINT) AS logweight_micronats
             |  FROM hb JOIN w USING (b) GROUP BY 1),
             |sel AS (SELECT (SELECT CAST(sum(logweight_micronats) AS HUGEINT)
             |                FROM d) AS s,
             |               (SELECT count(*) FROM d) AS n)
             |SELECT doc_id, n_features, logweight_micronats,
             |  CAST(logweight_micronats AS HUGEINT) * sel.n >= sel.s
             |    AS selected
             |FROM d CROSS JOIN sel ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("sample_ess_report",
      // Kish effective-sample-size diagnostics per source with token-mass
      // weights (n_chars): ess_ppm = (Σw)²·1e6 / (n·Σw²) — 1e6 means
      // uniform mass; small means a few heavy docs dominate the sampled
      // mixture. One partial-aggregable pass, exact integer arithmetic
      (s, dir) => graft.functions.Sampling.essReport(
          Tables.documents(s, dir), "source", col("n_chars"))
        .orderBy("source"),
      Some("""SELECT source, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(n_chars) AS BIGINT) AS sum_w,
             |  CAST(sum(n_chars * n_chars) AS BIGINT) AS sum_w2,
             |  CAST(CASE WHEN sum(n_chars * n_chars) = 0 THEN 0
             |    ELSE CAST(sum(n_chars) AS HUGEINT) * sum(n_chars)
             |         * 1000000
             |         // (CAST(count(*) AS HUGEINT)
             |            * sum(n_chars * n_chars)) END AS BIGINT)
             |    AS ess_ppm
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    QueryDef.headline("corpus_diversity_index",
      // data-mixing dashboard: Shannon entropy of each language's SOURCE
      // mix in micronats (quantize-then-sum, the perplexity family's
      // exactness discipline) — one source scores 0, an even k-way mix
      // scores ln k. Two partial-aggregable count shuffles
      (s, dir) => TextAnalysis.diversityIndex(
          Tables.documents(s, dir), "lang", "source")
        .orderBy("lang"),
      Some("""WITH cnt AS (
             |  SELECT lang, source, count(*) AS n
             |  FROM documents GROUP BY 1, 2),
             |agg AS (
             |  SELECT lang, CAST(count(*) AS BIGINT) AS n_items,
             |    CAST(sum(n) AS BIGINT) AS n_rows,
             |    CAST(sum(n * CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000 + 0.5)
             |      AS BIGINT)) AS BIGINT) AS s
             |  FROM cnt GROUP BY 1)
             |SELECT lang, n_items, n_rows,
             |  CAST(CAST(floor(ln(CAST(n_rows AS DOUBLE)) * 1000000 + 0.5)
             |       AS BIGINT) - (s // n_rows) AS BIGINT)
             |    AS entropy_micronats
             |FROM agg ORDER BY lang""".stripMargin)),

    QueryDef.headline("source_concentration_gini",
      // the inequality companion to the entropy index: Gini of each
      // language's source mix in integer ppm (discrete ascending-rank
      // form, ties broken by source for engine parity); the count frame
      // is groups x items metadata so the rank window is bounded
      (s, dir) => TextAnalysis.concentrationGini(
          Tables.documents(s, dir), "lang", "source")
        .orderBy("lang"),
      Some("""WITH cnt AS (
             |  SELECT lang, source, count(*) AS n
             |  FROM documents GROUP BY 1, 2),
             |r AS (
             |  SELECT lang, n, row_number() OVER (
             |    PARTITION BY lang ORDER BY n, source) AS rk
             |  FROM cnt),
             |agg AS (
             |  SELECT lang, CAST(count(*) AS BIGINT) AS n_items,
             |    CAST(sum(n) AS BIGINT) AS n_rows,
             |    CAST(sum(rk * n) AS HUGEINT) AS rs
             |  FROM r GROUP BY 1)
             |SELECT lang, n_items, n_rows,
             |  CAST(((2 * rs - (n_items + 1) * CAST(n_rows AS HUGEINT))
             |        * 1000000)
             |    // (n_items * CAST(n_rows AS HUGEINT)) AS BIGINT)
             |    AS gini_ppm
             |FROM agg ORDER BY lang""".stripMargin)),

    QueryDef.headline("split_temporal_embargo",
      // the time-series leakage guard: train < t1, [t1, t2) EXCLUDED,
      // test >= t2 — cutoffs at 70%/75% of the observed range in exact
      // epoch-micros; census carries each split's micros range so the
      // embargo gap is auditable. Temporal sibling of split_leakage_safe
      (s, dir) => graft.functions.Sampling.temporalEmbargoSplit(
          Tables.events(s, dir), "ts", "event_type",
          trainPermille = 700, embargoPermille = 50)
        .orderBy("event_type", "split"),
      Some("""WITH b AS (
             |  SELECT CAST(epoch_us(min(CAST(ts AS TIMESTAMP))) AS BIGINT) AS lo,
             |    CAST(epoch_us(max(CAST(ts AS TIMESTAMP))) AS BIGINT) AS hi
             |  FROM events),
             |a AS (
             |  SELECT event_type,
             |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS BIGINT) AS us,
             |    b.lo + ((b.hi - b.lo) * 700) // 1000 AS t1,
             |    b.lo + ((b.hi - b.lo) * 750) // 1000 AS t2
             |  FROM events CROSS JOIN b)
             |SELECT event_type,
             |  CASE WHEN us < t1 THEN 'train'
             |       WHEN us < t2 THEN 'embargo'
             |       ELSE 'test' END AS split,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  min(us) AS first_us, max(us) AS last_us
             |FROM a GROUP BY 1, 2 ORDER BY event_type, split""".stripMargin)))
}
