package graft.queries

import graft.functions.{TextAnalysis, TextClean}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import OracleSql._

/** Quality filtering and governance: the Gopher and C4 rule batteries,
  * blocklists, the linear quality classifier (train, apply, calibration),
  * benchmark decontamination, PII and secret redaction, privacy censuses,
  * and the composed pretraining-recipe funnels. */
object QualityQueries {

  /** Shared DuckDB CTE chain for the pretraining-recipe gates
    * ([[graft.functions.Recipe.stageFlags]] replayed from raw text):
    * yields `s4` with one row per doc carrying doc_id, source, n_tokens,
    * the five stage flags, and the battery's first_failed. The quality
    * stage is the FULL Gopher battery ([[gopherBatterySql]]) at the
    * funnel's fixture word bounds (8..100,000). Final SELECTs differ
    * per gate. */
  private def recipeStageCtes: String = {
    s"""${gopherBatterySql(8, 100000)},
       |m AS (
       |  SELECT doc_id, source, text,
       |    len(string_split(text,' ')) AS n_tokens,
       |    $langScoreSql
       |  FROM documents),
       |f AS (
       |  SELECT m.doc_id, m.source, m.text, m.n_tokens,
       |    ($langCaseSql) = 'en' AS lang_ok,
       |    gv.first_failed,
       |    gv.first_failed IS NULL AS gopher_ok
       |  FROM m JOIN gv USING (doc_id)),
       |s2 AS (
       |  SELECT *, (lang_ok AND gopher_ok) AS surv_q,
       |    ((lang_ok AND gopher_ok) AND doc_id = min(CASE
       |        WHEN lang_ok AND gopher_ok THEN doc_id END)
       |      OVER (PARTITION BY md5(text))) AS surv_d
       |  FROM f),
       |bg AS (
       |  SELECT DISTINCT unnest($Shingles5Sql) AS gram
       |  FROM documents WHERE doc_id % 20 = 0),
       |contam AS (
       |  SELECT DISTINCT e.doc_id AS cid
       |  FROM (SELECT doc_id, unnest($Shingles5Sql) AS gram
       |        FROM s2 WHERE surv_d) e
       |  JOIN bg USING (gram)),
       |s4 AS (
       |  SELECT s2.doc_id, s2.source, s2.n_tokens, s2.lang_ok, s2.gopher_ok,
       |    s2.first_failed, s2.surv_q, s2.surv_d,
       |    (s2.surv_d AND c.cid IS NULL) AS surv_c,
       |    (s2.surv_d AND c.cid IS NULL AND ($DocHashSql) % 2 = 0) AS surv_s
       |  FROM s2 LEFT JOIN contam c ON s2.doc_id = c.cid)""".stripMargin
  }

  /** k=5 variant of [[ShinglesSql]] (decontamination grams). */
  private val Shingles5Sql =
    """list_distinct(CASE WHEN len(string_split(text,' ')) >= 5
      |  THEN list_transform(generate_series(1, len(string_split(text,' '))-4),
      |       i -> array_to_string((string_split(text,' '))[i:i+4], ' '))
      |  ELSE [text] END)""".stripMargin

  /** DuckDB CTE chain recomputing the FULL Gopher battery verdict
    * ([[graft.functions.TextAnalysis.gopherChain]]): every Table A1
    * census, every Table A2 repetition census, the exact integer ppm
    * ratios, and the first-failure precedence in the paper's table
    * order. Yields `gv` (doc_id, first_failed). Word bounds are the
    * caller's; every other threshold is the paper's. (Regexes avoid
    * backslashes — `[.]` == `\.` — because this is an interpolated
    * Scala string.) */
  private def gopherBatterySql(minWords: Int, maxWords: Int): String =
    s"""gt AS (SELECT doc_id, text, string_split(text, ' ') AS w,
       |         string_split(text, chr(10)) AS l FROM documents),
       |gm AS (SELECT doc_id,
       |        CAST(len(w) AS BIGINT) AS n_words,
       |        CAST(list_reduce(list_transform(w,
       |            x -> CAST(length(x) AS BIGINT)),
       |          (a, b) -> a + b) AS BIGINT) AS sl,
       |        CAST(len(l) AS BIGINT) AS nl,
       |        CAST(length(text) - length(replace(text, '#', ''))
       |            AS BIGINT)
       |          + CAST((length(text)
       |            - length(replace(text, '...', ''))) // 3
       |            AS BIGINT) AS sy,
       |        CAST(len(list_filter(l,
       |          x -> regexp_matches(x, '^[-*•]'))) AS BIGINT) AS bu,
       |        CAST(len(list_filter(l,
       |          x -> regexp_matches(x, '([.][.][.]|…)$$'))) AS BIGINT) AS el,
       |        CAST(len(list_filter(w,
       |          x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS al,
       |        CAST(len(list_filter(w,
       |          x -> x IN ('the','be','to','of','and','that','have',
       |                     'with','a'))) AS BIGINT) AS ns,
       |        CAST(list_reduce(list_transform(l,
       |            x -> CAST(length(x) AS BIGINT)),
       |          (a, b) -> a + b) AS BIGINT) AS lc,
       |        CAST(len(l) - len(list_distinct(l)) AS BIGINT) AS dl,
       |        CAST(list_reduce(list_transform(l,
       |            x -> CASE WHEN len(list_filter(l, y -> y = x)) >= 2
       |                 THEN CAST(length(x) AS BIGINT) ELSE 0 END),
       |          (a, b) -> a + b) AS BIGINT) AS dlc,
       |        CASE WHEN len(w) >= 2 THEN
       |          list_transform(generate_series(1,
       |            CAST(len(w) - 1 AS INT)),
       |            i -> w[i] || ' ' || w[i + 1])
       |        ELSE [] END AS g,
       |        CAST(length(text) AS BIGINT) AS n
       |      FROM gt),
       |gmm AS (SELECT doc_id, n_words,
       |         CAST((sl * 1000000) // n_words AS BIGINT) AS mwl,
       |         CAST((sy * 1000000) // n_words AS BIGINT) AS syp,
       |         CAST((bu * 1000000) // nl AS BIGINT) AS bup,
       |         CAST((el * 1000000) // nl AS BIGINT) AS elp,
       |         CAST((al * 1000000) // n_words AS BIGINT) AS alp,
       |         ns,
       |         CAST((dl * 1000000) // nl AS BIGINT) AS dlp,
       |         CAST(CASE WHEN lc > 0 THEN (dlc * 1000000) // lc
       |              ELSE 0 END AS BIGINT) AS dlcp,
       |         CAST(CASE WHEN n > 0 THEN
       |             (coalesce(list_max(list_transform(g,
       |                x -> CAST(len(list_filter(g, y -> y = x)) AS BIGINT)
       |                     * length(x))), 0) * 1000000) // n
       |              ELSE 0 END AS BIGINT) AS tcp
       |       FROM gm),
       |gv AS (SELECT doc_id,
       |        CASE WHEN n_words < $minWords OR n_words > $maxWords
       |               THEN 'word_count'
       |             WHEN mwl < 3000000 OR mwl > 10000000
       |               THEN 'mean_word_len'
       |             WHEN syp > 100000 THEN 'symbol_ratio'
       |             WHEN bup > 900000 THEN 'bullet_lines'
       |             WHEN elp > 300000 THEN 'ellipsis_lines'
       |             WHEN alp < 800000 THEN 'alpha_words'
       |             WHEN ns < 2 THEN 'stopwords'
       |             WHEN dlp > 300000 THEN 'dup_lines'
       |             WHEN dlcp > 200000 THEN 'dup_line_chars'
       |             WHEN tcp > 200000 THEN 'top_2gram'
       |        END AS first_failed
       |      FROM gmm)""".stripMargin

  /** DuckDB CTE chain recomputing [[graft.functions.Classifier.linearScore]]
    * from scratch — unigram+bigram features, md5-slice bucket, the
    * hash-derived micronat weight per bucket, and the exact integer
    * per-doc sum. Yields `d` (doc_id, n_features, score_micronats). */
  private def classifierScoreCteSql: String =
    s"""tk AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |bg AS (SELECT doc_id, t,
       |         unnest(generate_series(1, len(t) - 1)) AS i FROM tk),
       |f AS (
       |  SELECT doc_id, unnest(t) AS f FROM tk
       |  UNION ALL
       |  SELECT doc_id, t[i] || ' ' || t[i + 1] AS f FROM bg),
       |hb AS (SELECT doc_id,
       |         CAST(${md5SliceSql("f")} % 64 AS INT) AS b FROM f),
       |wt AS (SELECT doc_id,
       |         ${md5SliceSql("'qw42#' || CAST(b AS VARCHAR)")} % 2001 - 1000 AS w
       |       FROM hb),
       |d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_features,
       |        CAST(sum(w) AS BIGINT) AS score_micronats
       |      FROM wt GROUP BY doc_id)""".stripMargin

  /** DuckDB replay of [[graft.functions.Classifier.train]]: hashed
    * unigram+bigram count features, then `iters` UNROLLED full-batch
    * GD steps — margin sum, ppm-quantized sigmoid residual, exact
    * integer gradient, toward-zero lr-scaled update (positive-operand
    * `//` == Spark's `div`) — weights carried between steps as
    * MATERIALIZED 64-row CTEs. */
  private def classifierTrainOracleSql(iters: Int): String = {
    val head = s"""tk AS (SELECT doc_id, lang = 'en' AS y,
       |              string_split(text, ' ') AS t FROM documents),
       |bg AS (SELECT doc_id, t,
       |         unnest(generate_series(1, len(t) - 1)) AS i FROM tk),
       |fe AS (
       |  SELECT doc_id, unnest(t) AS f FROM tk
       |  UNION ALL
       |  SELECT doc_id, t[i] || ' ' || t[i + 1] AS f FROM bg),
       |feat AS MATERIALIZED (
       |  SELECT doc_id, CAST(${md5SliceSql("f")} % 64 AS INT) AS b,
       |         CAST(count(*) AS BIGINT) AS cnt
       |  FROM fe GROUP BY 1, 2),
       |docs AS MATERIALIZED (SELECT doc_id, y FROM tk),
       |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM docs),
       |w0 AS MATERIALIZED (SELECT unnest(generate_series(0, 63)) AS b,
       |      CAST(0 AS BIGINT) AS w),
       |bb0 AS (SELECT CAST(0 AS BIGINT) AS bw)""".stripMargin
    val steps = (1 to iters).map { k =>
      val p = k - 1
      s"""s$k AS (SELECT f.doc_id, CAST(sum(f.cnt * w.w) AS BIGINT) AS fs
         |       FROM feat f JOIN w$p w USING (b) GROUP BY 1),
         |r$k AS MATERIALIZED (
         |  SELECT d.doc_id,
         |    CAST(floor(1000000.0 / (1.0 +
         |        exp(-(CAST(bb.bw + coalesce(s.fs, 0) AS DOUBLE))
         |            / 1000000.0)) + 0.5) AS BIGINT)
         |      - CASE WHEN d.y THEN 1000000 ELSE 0 END AS r
         |  FROM docs d LEFT JOIN s$k s USING (doc_id) CROSS JOIN bb$p bb),
         |g$k AS (SELECT f.b, CAST(sum(r.r * f.cnt) AS BIGINT) AS g
         |       FROM feat f JOIN r$k r USING (doc_id) GROUP BY 1),
         |w$k AS MATERIALIZED (
         |  SELECT w.b, w.w - (CASE WHEN coalesce(g.g, 0) < 0
         |      THEN -((-coalesce(g.g, 0)) // (4 * n))
         |      ELSE coalesce(g.g, 0) // (4 * n) END) AS w
         |  FROM w$p w LEFT JOIN g$k g USING (b) CROSS JOIN nd),
         |bb$k AS (SELECT bb.bw - (CASE WHEN gb.g < 0
         |      THEN -((-gb.g) // (4 * n)) ELSE gb.g // (4 * n) END) AS bw
         |    FROM bb$p bb CROSS JOIN (SELECT CAST(coalesce(sum(r), 0)
         |      AS BIGINT) AS g FROM r$k) gb CROSS JOIN nd)""".stripMargin
    }
    (head +: steps).mkString(",\n")
  }

  def defs: Seq[QueryDef] = Seq(

    QueryDef.headline("text_quality_gopher",
      // Gopher-style rule-level quality flags: one boolean per rule plus
      // the conjunction (practitioners audit WHICH rule fired, not a
      // blended score); oracle recomputes every metric and every flag
      (s, dir) => TextAnalysis.gopherFlags(Tables.documents(s, dir))
        .select("doc_id", "ok_length", "ok_mean_len", "ok_repetition",
          "ok_stopwords", "keep")
        .orderBy("doc_id"),
      Some {
        val en = TextAnalysis.Langs.head._2.map("'" + _ + "'").mkString(",")
        s"""WITH m AS (
           |  SELECT doc_id,
           |    len(string_split(text,' ')) AS n_tokens,
           |    len(list_distinct(string_split(text,' '))) AS n_uniq,
           |    len(list_intersect(string_split(text,' '), [$en])) AS n_stop,
           |    length(text) AS n_chars,
           |    CASE WHEN len(string_split(text,' ')) - 2 <= 0 THEN 0.0
           |         ELSE 1.0 - CAST(len($ShinglesSql) AS DOUBLE)
           |                / (len(string_split(text,' ')) - 2) END AS rep3
           |  FROM documents),
           |f AS (
           |  SELECT doc_id,
           |    (n_tokens >= 8 AND n_tokens <= 100000) AS ok_length,
           |    (CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens >= 2.0
           |     AND CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens <= 12.0) AS ok_mean_len,
           |    (rep3 <= 0.5) AS ok_repetition,
           |    (CAST(n_stop AS DOUBLE) / n_uniq >= 0.02) AS ok_stopwords
           |  FROM m)
           |SELECT doc_id, ok_length, ok_mean_len, ok_repetition, ok_stopwords,
           |       (ok_length AND ok_mean_len AND ok_repetition AND ok_stopwords) AS keep
           |FROM f ORDER BY doc_id""".stripMargin
      }),

    QueryDef.headline("quality_by_source",
      // per-source curation dashboard: doc counts, quality-score sums in
      // integer nanos (associative — a raw double sum would be
      // merge-order-dependent), Gopher pass counts; everything recomputed
      // by the oracle from the text
      (s, dir) => TextAnalysis.qualityByGroup(Tables.documents(s, dir),
          "source")
        .orderBy("source"),
      Some {
        val en = TextAnalysis.Langs.head._2.map("'" + _ + "'").mkString(",")
        s"""WITH m AS (
           |  SELECT doc_id, source,
           |    len(string_split(text,' ')) AS n_tokens,
           |    len(list_distinct(string_split(text,' '))) AS n_uniq,
           |    len(list_intersect(string_split(text,' '), [$en])) AS n_stop,
           |    length(text) AS n_chars,
           |    CASE WHEN len(string_split(text,' ')) - 2 <= 0 THEN 0.0
           |         ELSE 1.0 - CAST(len($ShinglesSql) AS DOUBLE)
           |                / (len(string_split(text,' ')) - 2) END AS rep3
           |  FROM documents),
           |q AS (
           |  SELECT doc_id, source,
           |    (CAST(n_uniq AS DOUBLE) / n_tokens) * 0.5
           |      + (CAST(n_stop AS DOUBLE) / n_uniq) * 0.2
           |      + least((CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens) / 10.0, 1.0) * 0.3 AS q,
           |    ((n_tokens >= 8 AND n_tokens <= 100000)
           |     AND (CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens >= 2.0
           |          AND CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens <= 12.0)
           |     AND (rep3 <= 0.5)
           |     AND (CAST(n_stop AS DOUBLE) / n_uniq >= 0.02)) AS keep
           |  FROM m)
           |SELECT source, count(*) AS n_docs,
           |  CAST(sum(CAST(floor(q * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS q_nanos_sum,
           |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_pass
           |FROM q GROUP BY source ORDER BY source""".stripMargin
      }),

    QueryDef("corpus_pipeline",
      // the whole spec-driven corpus prep in one declared pipeline:
      // lang filter -> min-token filter -> normalize -> exact dedup ->
      // stratified sample -> chunk; oracle recomputes every stage
      (s, dir) => graft.spec.CorpusSpec.run(
        Tables.documents(s, dir),
        graft.spec.CorpusSpec.parse("""{
          "filter": {"minTokens": 5, "langs": ["en", "es"]},
          "normalize": true,
          "dedup": {"method": "exact"},
          "sample": {"strataCol": "lang", "rates": {"en": 0.5}, "default": 0.25},
          "chunk": {"width": 32, "stride": 24}}"""))
        .select("doc_id", "chunk_idx", "chunk_text")
        .orderBy("doc_id", "chunk_idx"),
      Some {
        def th(r: Double): Long = math.round(r * 4294967296.0)
        s"""WITH f AS (
           |  SELECT doc_id, lang,
           |         regexp_replace(lower(trim(text)), ' +', ' ', 'g') AS ntext
           |  FROM documents
           |  WHERE lang IN ('en', 'es') AND len(string_split(text, ' ')) >= 5),
           |d AS (SELECT *, row_number() OVER (PARTITION BY md5(ntext) ORDER BY doc_id) AS rn FROM f),
           |k AS (SELECT doc_id, lang, ntext FROM d WHERE rn = 1),
           |smp AS (
           |  SELECT doc_id, ntext FROM k
           |  WHERE list_reduce(list_transform(
           |      regexp_extract_all(substr(md5(CAST(doc_id AS VARCHAR)), 25, 8), '.'),
           |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16 + b)
           |    < CASE WHEN lang = 'en' THEN ${th(0.5)} ELSE ${th(0.25)} END),
           |t AS (SELECT doc_id, string_split(ntext, ' ') AS t,
           |             len(string_split(ntext, ' ')) AS n FROM smp),
           |c AS (SELECT doc_id, t,
           |        CASE WHEN n <= 32 THEN 1
           |             ELSE CAST(floor((n - 32 + 23) / 24) AS INT) + 1 END AS nc
           |      FROM t),
           |e AS (SELECT doc_id, t, unnest(generate_series(0, nc - 1)) AS ci FROM c)
           |SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
           |       array_to_string(t[ci * 24 + 1 : ci * 24 + 32], ' ') AS chunk_text
           |FROM e ORDER BY doc_id, chunk_idx""".stripMargin
      }),

    QueryDef("pii_redact",
      // PII scrub gate. The synthetic corpus carries no real PII, so the
      // query first augments each row with a deterministic email + phone
      // built from doc_id (both engines construct the identical input),
      // then scrubs; the oracle recomputes the exact redacted text.
      (s, dir) => {
        def aug = concat(col("text"), lit(" reach user"),
          col("doc_id").cast("string"), lit("@example.com or call 555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
          lit(" now"))
        Tables.documents(s, dir).select(col("doc_id"),
          TextClean.countEmails(aug).cast("int").as("n_emails"),
          TextClean.countPhones(TextClean.redactEmails(aug)).cast("int")
            .as("n_phones"),
          md5(TextClean.redactPii(aug)).as("redacted_md5"))
          .orderBy("doc_id")
      },
      Some(s"""WITH a AS (SELECT doc_id,
              |  text || ' reach user' || CAST(doc_id AS VARCHAR)
              |    || '@example.com or call 555-'
              |    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' now' AS aug
              |  FROM documents),
              |r AS (SELECT doc_id, aug,
              |  regexp_replace(aug, '${TextClean.EmailPattern}', '[EMAIL]', 'g') AS no_email
              |  FROM a)
              |SELECT doc_id,
              |  CAST(len(regexp_extract_all(aug, '${TextClean.EmailPattern}')) AS INT) AS n_emails,
              |  CAST(len(regexp_extract_all(no_email, '${TextClean.PhonePattern}')) AS INT) AS n_phones,
              |  md5(regexp_replace(no_email, '${TextClean.PhonePattern}', '[PHONE]', 'g')) AS redacted_md5
              |FROM r ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("secret_scan",
      // credential/secret scanning census + scrub — the corpus-hygiene
      // step PII redaction does not cover. The synthetic corpus carries
      // no secrets, so the query injects deterministic ones (AWS key id
      // on doc_id%7, JWT-shaped on %11, 40-hex on %13 — both engines
      // build the identical input, the pii_redact fixture discipline);
      // classes overlap by design and the high-entropy detector uses the
      // exact quantize-then-sum micronat entropy
      (s, dir) => {
        def idS = col("doc_id").cast("string")
        def aug = concat(col("text"),
          when(pmod(col("doc_id"), lit(7)) === 0,
            concat(lit(" AKIA"),
              upper(substring(md5(concat(lit("sk"), idS)), 1, 16))))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(lit(" eyJ"),
              substring(md5(concat(lit("jwt"), idS)), 1, 24)))
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(13)) === 0,
            concat(lit(" "), md5(concat(lit("hex"), idS)),
              substring(md5(concat(lit("hex2"), idS)), 1, 8)))
            .otherwise(lit("")))
        TextClean.secretScan(
            Tables.documents(s, dir).select(col("doc_id"), aug.as("text")),
            "doc_id", "text")
          .orderBy("doc_id")
      },
      Some("""WITH a AS (SELECT doc_id, text
             |  || CASE WHEN doc_id % 7 = 0 THEN ' AKIA' || upper(substr(md5('sk' || CAST(doc_id AS VARCHAR)), 1, 16)) ELSE '' END
             |  || CASE WHEN doc_id % 11 = 0 THEN ' eyJ' || substr(md5('jwt' || CAST(doc_id AS VARCHAR)), 1, 24) ELSE '' END
             |  || CASE WHEN doc_id % 13 = 0 THEN ' ' || md5('hex' || CAST(doc_id AS VARCHAR)) || substr(md5('hex2' || CAST(doc_id AS VARCHAR)), 1, 8) ELSE '' END AS text
             |  FROM documents),
             |t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM a),
             |occ AS (SELECT doc_id, i, tk[i] AS tok
             |        FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM t)),
             |toku AS (SELECT DISTINCT tok FROM occ),
             |cc AS (SELECT tok, c, count(*) AS n
             |       FROM (SELECT tok, unnest(regexp_extract_all(tok, '.')) AS c FROM toku)
             |       GROUP BY 1, 2),
             |ent AS (SELECT tok,
             |          CAST(CAST(floor(ln(CAST(sum(n) AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)
             |            - sum(n * CAST(floor(ln(CAST(n AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)) // sum(n)
             |            AS BIGINT) AS e
             |        FROM cc GROUP BY tok),
             |cls AS (SELECT tok, e,
             |          regexp_full_match(tok, 'AKIA[0-9A-Z]{16}') AS is_aws,
             |          regexp_full_match(tok, 'eyJ[A-Za-z0-9._-]{17,}') AS is_jwt,
             |          regexp_full_match(tok, '[0-9a-f]{40}') AS is_hex40,
             |          (len(tok) >= 20 AND regexp_full_match(tok, '[A-Za-z0-9+/=_-]+') AND e >= 2300000) AS is_he
             |        FROM ent),
             |-- LEFT join: '' tokens (empty text, consecutive spaces) have no
             |-- chars, so regexp_extract_all drops them from cc/ent/cls — an
             |-- inner join would drop their occ rows entirely, shifting
             |-- scrubbed_md5 and losing empty-text docs. The engine keeps ''
             |-- tokens, classifies them non-secret, and computes NULL entropy
             |-- for them (NULLs are ignored by max/array_max on both engines)
             |j AS (SELECT doc_id, i, tok, e,
             |        coalesce(is_aws, FALSE) AS is_aws,
             |        coalesce(is_jwt, FALSE) AS is_jwt,
             |        coalesce(is_hex40, FALSE) AS is_hex40,
             |        coalesce(is_he, FALSE) AS is_he,
             |        coalesce(is_aws OR is_jwt OR is_hex40 OR is_he, FALSE) AS is_sec
             |      FROM occ LEFT JOIN cls USING (tok)),
             |agg AS (SELECT doc_id,
             |          CAST(sum(CASE WHEN is_sec THEN 1 ELSE 0 END) AS INT) AS n_secret_tokens,
             |          CAST(sum(CASE WHEN is_aws THEN 1 ELSE 0 END) AS INT) AS n_aws_keys,
             |          CAST(sum(CASE WHEN is_jwt THEN 1 ELSE 0 END) AS INT) AS n_jwt,
             |          CAST(sum(CASE WHEN is_hex40 THEN 1 ELSE 0 END) AS INT) AS n_hex40,
             |          CAST(sum(CASE WHEN is_he THEN 1 ELSE 0 END) AS INT) AS n_high_entropy,
             |          max(e) AS max_token_entropy_micronats
             |        FROM j GROUP BY doc_id),
             |scr AS (SELECT doc_id,
             |          md5(string_agg(CASE WHEN is_sec THEN '[SECRET]' ELSE tok END, ' ' ORDER BY i)) AS scrubbed_md5
             |        FROM j GROUP BY doc_id)
             |SELECT doc_id, n_secret_tokens, n_aws_keys, n_jwt, n_hex40,
             |  n_high_entropy, max_token_entropy_micronats, scrubbed_md5
             |FROM agg JOIN scr USING (doc_id) ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("governance_dp_release",
      // ε-differentially-private corpus-composition release (Laplace
      // mechanism, ε = 0.5): per-(lang, source) counts + seeded
      // deterministic Laplace noise drawn by inverse CDF from the 32-bit
      // md5 slice — reproducible across reruns and bit-exactly verified
      // by the oracle; a production release swaps the seed, nothing else
      (s, dir) => graft.functions.Stats.dpNoisyCounts(
          Tables.documents(s, dir), Seq("lang", "source"),
          epsilonPpm = 500000L, seed = "r10dp")
        .orderBy("lang", "source"),
      Some(s"""WITH c AS (SELECT lang, source, count(*) AS n FROM documents GROUP BY 1, 2),
              |h AS (SELECT lang, source, n,
              |        ${md5SliceSql("'dp|r10dp|' || lang || '|' || source")} AS hv
              |      FROM c),
              |u AS (SELECT lang, source, n,
              |        (CAST(hv AS DOUBLE) + 0.5) / 4294967296.0 - 0.5 AS cu
              |      FROM h)
              |SELECT lang, source,
              |  CAST(n * 1000000 + CAST(floor(
              |    ((CASE WHEN cu >= 0 THEN -1.0 ELSE 1.0 END) * 2.0
              |      * ln(1 - 2 * abs(cu))) * 1000000 + 0.5) AS BIGINT) AS BIGINT)
              |    AS noisy_count_micro,
              |  CAST(500000 AS BIGINT) AS epsilon_ppm
              |FROM u ORDER BY lang, source""".stripMargin)),

    QueryDef.headline("quality_expectations",
      // declarative pre-publish validation: row-local rules fold into one
      // scan, uniqueness is one (count, distinct) aggregate, referential
      // integrity is an anti-join — violations counted exactly (the
      // in-range/in-set/fk rules are tuned to catch real rows here)
      (s, dir) => {
        import graft.functions.Expectations._
        val docRules = check(Tables.documents(s, dir), Seq(
          NotNull("text"),
          InRange("n_chars", 0, 300),
          InSet("lang", Seq("en", "zh")),
          Matches("text", "^[a-z ]*$"),
          Unique("doc_id")))
        val fkRules = check(Tables.lineitem(s, dir), Seq(
          FkIn("l_partkey",
            Tables.part(s, dir).filter(col("p_size") <= 25), "p_partkey")))
        docRules.unionAll(fkRules).orderBy("rule")
      },
      Some("""SELECT * FROM (
             |  SELECT 'not_null(text)' AS rule,
             |    count(*) FILTER (WHERE text IS NULL) AS n_violations FROM documents
             |  UNION ALL SELECT 'in_range(n_chars,0.0,300.0)',
             |    count(*) FILTER (WHERE n_chars IS NOT NULL
             |      AND (n_chars < 0 OR n_chars > 300)) FROM documents
             |  UNION ALL SELECT 'in_set(lang)',
             |    count(*) FILTER (WHERE lang IS NOT NULL
             |      AND lang NOT IN ('en', 'zh')) FROM documents
             |  UNION ALL SELECT 'matches(text)',
             |    count(*) FILTER (WHERE text IS NOT NULL
             |      AND NOT regexp_matches(text, '^[a-z ]*$')) FROM documents
             |  UNION ALL SELECT 'unique(doc_id)',
             |    count(doc_id) - count(DISTINCT doc_id) FROM documents
             |  UNION ALL SELECT 'fk(l_partkey)',
             |    (SELECT count(*) FROM lineitem l
             |     WHERE l.l_partkey IS NOT NULL AND NOT EXISTS (
             |       SELECT 1 FROM part p
             |       WHERE p.p_partkey = l.l_partkey AND p.p_size <= 25))
             |) ORDER BY rule""".stripMargin)),

    QueryDef.headline("quality_classifier",
      // fastText-style linear quality-filter INFERENCE (Joulin et al.
      // 2016; the CCNet/FineWeb keep-or-drop pass): per-doc integer score
      // over hashed unigram+bigram features, a pure narrow map — no
      // explode, no join, no shuffle. The deterministic hash-derived
      // weight table stands in for trained coefficients so the oracle can
      // recompute every bucket, weight, and the exact integer fold
      (s, dir) => graft.functions.Classifier.linearScore(
          Tables.documents(s, dir), "doc_id", "text", dim = 64)
        .orderBy("doc_id"),
      Some(s"""WITH $classifierScoreCteSql
              |SELECT doc_id, n_features, score_micronats,
              |  score_micronats >= 0 AS accept
              |FROM d ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("classifier_train",
      // fastText-style quality-filter TRAINING in-engine (the half the
      // reference does offline on a sample): 3 full-batch logistic-GD
      // steps over the SAME hashed unigram+bigram features the
      // inference gate scores with, weak label lang='en', lr 1/4.
      // Engine-exact: the sigmoid is ppm-quantized per doc BEFORE any
      // sum, gradients are exact long sums, updates use toward-zero
      // division over non-negative operands. Weights live on the driver
      // between iterations (65 longs — bounded model metadata); per
      // iteration the distributed work is two partial-aggregable
      // shuffles over the persisted (doc, bucket, cnt) frame. Oracle
      // unrolls the same 3 steps as materialized weight CTEs
      (s, dir) => graft.functions.Classifier.train(
          Tables.documents(s, dir), "doc_id", "text",
          col("lang") === "en", dim = 64, iters = 3)
        .orderBy("bucket"),
      Some(s"""WITH ${classifierTrainOracleSql(3)}
              |SELECT CAST(-1 AS INT) AS bucket,
              |  CAST(bw AS BIGINT) AS weight_micronats FROM bb3
              |UNION ALL
              |SELECT b AS bucket, CAST(w AS BIGINT) AS weight_micronats
              |FROM w3
              |ORDER BY bucket""".stripMargin)),

    QueryDef.headline("classifier_train_apply",
      // the COMPOSED loop: train in-engine (3 GD steps, weak label
      // lang='en'), then score the same corpus THROUGH THE TRAINED
      // TABLE via the join-based inference seat (linearScoreWith — the
      // plan that survives hashing-trick dims, unlike a literal-array
      // weightExpr). Oracle unrolls the identical 3 steps and applies
      // w3/bb3 — end-to-end engine exactness of train+apply together
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val trained = graft.functions.Classifier.train(docs, "doc_id",
          "text", col("lang") === "en", dim = 64, iters = 3)
        graft.functions.Classifier.linearScoreWith(docs, "doc_id", "text",
            trained, dim = 64)
          .orderBy("doc_id")
      },
      Some(s"""WITH ${classifierTrainOracleSql(3)},
              |sc AS (SELECT f.doc_id,
              |         CAST(sum(f.cnt) AS BIGINT) AS n_features,
              |         CAST(sum(f.cnt * w.w) AS BIGINT) AS s
              |       FROM feat f JOIN w3 w USING (b) GROUP BY 1)
              |SELECT d.doc_id,
              |  CAST(coalesce(n_features, 0) AS BIGINT) AS n_features,
              |  CAST(coalesce(s, 0) + bb.bw AS BIGINT) AS score_micronats,
              |  coalesce(s, 0) + bb.bw >= 0 AS accept
              |FROM docs d LEFT JOIN sc USING (doc_id) CROSS JOIN bb3 bb
              |ORDER BY doc_id""".stripMargin)),

    QueryDef("classifier_pr_curve",
      // calibration sweep of the classifier against a weak label
      // (lang = 'en') at five fixed micronat thresholds: exact long
      // confusion counts per threshold (broadcast threshold table,
      // map-side partial agg -> 5-row exchange), precision/recall as
      // single guarded divisions — the table a pipeline reads before
      // choosing its filter cutoff
      (s, dir) => {
        val scored = graft.functions.Classifier.linearScore(
            Tables.documents(s, dir), "doc_id", "text", dim = 64,
            keep = Seq("lang"))
          .withColumn("y", col("lang") === "en")
        graft.functions.Classifier.prCurve(scored, "score_micronats", "y",
            Seq(-400000L, -200000L, 0L, 200000L, 400000L))
          .orderBy("threshold")
      },
      Some(s"""WITH $classifierScoreCteSql,
              |lab AS (SELECT d.doc_id, score_micronats AS s,
              |          (lang = 'en') AS y
              |        FROM d JOIN documents USING (doc_id)),
              |th AS (SELECT CAST(unnest([-400000, -200000, 0, 200000,
              |                           400000]) AS BIGINT) AS threshold),
              |c AS (SELECT threshold,
              |        CAST(sum(CASE WHEN s >= threshold AND y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
              |        CAST(sum(CASE WHEN s >= threshold AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
              |        CAST(sum(CASE WHEN s < threshold AND y THEN 1 ELSE 0 END) AS BIGINT) AS fn,
              |        CAST(sum(CASE WHEN s < threshold AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn
              |      FROM lab CROSS JOIN th GROUP BY threshold)
              |SELECT threshold, tp, fp, fn, tn,
              |  CASE WHEN tp + fp > 0
              |       THEN CAST(tp AS DOUBLE) / (tp + fp) END AS precision,
              |  CASE WHEN tp + fn > 0
              |       THEN CAST(tp AS DOUBLE) / (tp + fn) END AS recall
              |FROM c ORDER BY threshold""".stripMargin)),

    QueryDef.headline("quality_gopher_rules",
      // the FULL Gopher rule battery (Rae et al. 2021, Table A1) as an
      // audit table: word-count bounds, mean word length, symbol ratio,
      // bullet/ellipsis line fractions, alpha-word fraction, stopword
      // floor — every metric an exact integer ppm next to its verdict,
      // the whole battery one narrow map fused into the scan. Oracle
      // recomputes every metric and the conjunction. Word bounds are
      // FIXTURE-SCALED here (20..90 — the synthetic documents run ~50
      // words, the paper's 50..100,000 defaults target web pages); every
      // other threshold is the paper's default
      (s, dir) => TextAnalysis.gopherRules(Tables.documents(s, dir),
          "doc_id", "text", minWords = 20, maxWords = 90)
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w,
             |            string_split(text, chr(10)) AS l FROM documents),
             |m AS (SELECT doc_id,
             |        CAST(len(w) AS BIGINT) AS n_words,
             |        CAST(list_reduce(list_transform(w,
             |            x -> CAST(length(x) AS BIGINT)),
             |          (a, b) -> a + b) AS BIGINT) AS sl,
             |        CAST(len(l) AS BIGINT) AS nl,
             |        CAST(length(text) - length(replace(text, '#', ''))
             |            AS BIGINT)
             |          + CAST((length(text)
             |            - length(replace(text, '...', ''))) // 3
             |            AS BIGINT) AS sy,
             |        CAST(len(list_filter(l,
             |          x -> regexp_matches(x, '^[-*•]'))) AS BIGINT) AS bu,
             |        CAST(len(list_filter(l,
             |          x -> regexp_matches(x, '(\.\.\.|…)$'))) AS BIGINT) AS el,
             |        CAST(len(list_filter(w,
             |          x -> regexp_matches(x, '[a-zA-Z]'))) AS BIGINT) AS al,
             |        CAST(len(list_filter(w,
             |          x -> x IN ('the','be','to','of','and','that','have',
             |                     'with','a'))) AS BIGINT) AS ns
             |      FROM t),
             |mm AS (SELECT doc_id, n_words,
             |         CAST((sl * 1000000) // n_words AS BIGINT) AS mean_word_len_ppm,
             |         CAST((sy * 1000000) // n_words AS BIGINT) AS symbol_ratio_ppm,
             |         CAST((bu * 1000000) // nl AS BIGINT) AS bullet_line_ppm,
             |         CAST((el * 1000000) // nl AS BIGINT) AS ellipsis_line_ppm,
             |         CAST((al * 1000000) // n_words AS BIGINT) AS alpha_word_ppm,
             |         ns AS n_stopwords
             |       FROM m)
             |SELECT doc_id, n_words, mean_word_len_ppm, symbol_ratio_ppm,
             |  bullet_line_ppm, ellipsis_line_ppm, alpha_word_ppm,
             |  n_stopwords,
             |  (n_words BETWEEN 20 AND 90
             |   AND mean_word_len_ppm BETWEEN 3000000 AND 10000000
             |   AND symbol_ratio_ppm <= 100000
             |   AND bullet_line_ppm <= 900000
             |   AND ellipsis_line_ppm <= 300000
             |   AND alpha_word_ppm >= 800000
             |   AND n_stopwords >= 2) AS gopher_keep
             |FROM mm ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("quality_gopher_repetition",
      // the Gopher REPETITION half (Rae et al. 2021 Table A2):
      // duplicate-line fraction, duplicate-line character fraction, and
      // top word-2-gram character coverage — exact integer ppm, O(len^2)
      // comparisons INSIDE each row's arrays only (never cross-row), the
      // whole battery one narrow map. Oracle recomputes every census
      (s, dir) => TextAnalysis.gopherRepetition(Tables.documents(s, dir),
          "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS w,
             |            string_split(text, chr(10)) AS l FROM documents),
             |m AS (SELECT doc_id,
             |        CAST(len(l) AS BIGINT) AS nl,
             |        CAST(list_reduce(list_transform(l,
             |            x -> CAST(length(x) AS BIGINT)),
             |          (a, b) -> a + b) AS BIGINT) AS lc,
             |        CAST(len(l) - len(list_distinct(l)) AS BIGINT) AS dl,
             |        CAST(list_reduce(list_transform(l,
             |            x -> CASE WHEN len(list_filter(l, y -> y = x)) >= 2
             |                 THEN CAST(length(x) AS BIGINT) ELSE 0 END),
             |          (a, b) -> a + b) AS BIGINT) AS dlc,
             |        CASE WHEN len(w) >= 2 THEN
             |          list_transform(generate_series(1,
             |            CAST(len(w) - 1 AS INT)),
             |            i -> w[i] || ' ' || w[i + 1])
             |        ELSE [] END AS g,
             |        CAST(length(text) AS BIGINT) AS n
             |      FROM t),
             |mm AS (SELECT doc_id, nl, lc, dl, dlc, n,
             |         CAST(coalesce(list_max(list_transform(g,
             |           x -> CAST(len(list_filter(g, y -> y = x)) AS BIGINT)
             |                * length(x))), 0) AS BIGINT) AS tc
             |       FROM m),
             |f AS (SELECT doc_id,
             |        CAST((dl * 1000000) // nl AS BIGINT) AS dup_line_ppm,
             |        CAST(CASE WHEN lc > 0 THEN (dlc * 1000000) // lc
             |             ELSE 0 END AS BIGINT) AS dup_line_char_ppm,
             |        CAST(CASE WHEN n > 0 THEN (tc * 1000000) // n
             |             ELSE 0 END AS BIGINT) AS top_2gram_char_ppm
             |      FROM mm)
             |SELECT doc_id, dup_line_ppm, dup_line_char_ppm,
             |  top_2gram_char_ppm,
             |  (dup_line_ppm <= 300000 AND dup_line_char_ppm <= 200000
             |   AND top_2gram_char_ppm <= 200000) AS repetition_keep
             |FROM f ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("quality_c4_rules",
      // C4's LINE-LEVEL cleaning pass (Raffel et al. 2020 §2.2 — the
      // transformer half; blocklist_filter is its badwords rule,
      // dedup_spans its span dedup): keep lines ending in terminal
      // punctuation with >= 5 words and no blocked substring, then judge
      // the page on the KEPT lines (>= 3 sentences) plus the lorem-ipsum
      // / brace page rules. The fixture's documents are single-line
      // punctuation-free word soup, so the gate first RE-PAGES each text
      // deterministically (8-word lines, every 4th line unterminated)
      // and exercises the line-substring rule on a real corpus word
      // ('vector') — the operator itself takes any text. Oracle replays
      // the paging and every census
      (s, dir) => {
        val words = split(col("text"), " ")
        val nc = expr("(size(split(text, ' ')) + 7) div 8").cast("int")
        val paged = array_join(transform(sequence(lit(0), nc - 1),
          i => concat(array_join(slice(words, i * 8 + 1, lit(8)), " "),
            when(i % 4 =!= 3, lit(".")).otherwise(lit("")))), "\n")
        graft.functions.TextClean.c4Clean(
            Tables.documents(s, dir).withColumn("text", paged),
            "doc_id", "text", dropLineSubstrings = Seq("vector"))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w,
             |            CAST((len(string_split(text, ' ')) + 7) // 8
             |              AS INT) AS nc FROM documents),
             |pg AS (SELECT doc_id,
             |         array_to_string(list_transform(
             |           generate_series(0, nc - 1),
             |           i -> array_to_string(w[i*8+1 : i*8+8], ' ')
             |                || CASE WHEN i % 4 <> 3 THEN '.'
             |                   ELSE '' END), chr(10)) AS text
             |       FROM w),
             |t AS (SELECT doc_id, text,
             |        string_split(text, chr(10)) AS l FROM pg),
             |k AS (SELECT doc_id, text, l,
             |        list_filter(l, x ->
             |          right(trim(x), 1) IN ('.', '!', '?', '"')
             |          AND len(list_filter(string_split(x, ' '),
             |                y -> length(y) > 0)) >= 5
             |          AND NOT contains(lower(x), 'vector')) AS kl
             |      FROM t),
             |c AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_lines,
             |        CAST(len(kl) AS BIGINT) AS n_lines_kept,
             |        -- array_to_string([]) is NULL in DuckDB, '' in Spark
             |        coalesce(array_to_string(kl, chr(10)), '')
             |          AS text_clean,
             |        contains(lower(text), 'lorem ipsum')
             |          AS has_lorem_ipsum,
             |        contains(text, '{') AS has_brace
             |      FROM k)
             |SELECT doc_id, n_lines, n_lines_kept, text_clean,
             |  CAST(length(text_clean) - length(regexp_replace(
             |    text_clean, '[.!?]', '', 'g')) AS BIGINT) AS n_sentences,
             |  has_lorem_ipsum, has_brace,
             |  (length(text_clean) - length(regexp_replace(
             |     text_clean, '[.!?]', '', 'g')) >= 3
             |   AND NOT has_lorem_ipsum AND NOT has_brace) AS c4_keep
             |FROM c ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("quality_c4_chain",
      // the FULL C4 pipeline as one production chain (Raffel et al. 2020
      // §2.2 end-to-end, the gopherChain pattern): line-level cleaning +
      // page rules + badwords over the cleaned text + the three-span
      // corpus dedup with keep-FIRST-occurrence semantics, first-failure
      // census per page. Fixture: the quality_c4_rules re-paging (8-word
      // lines, every 4th unterminated, 'vector' line rule) plus a 4-line
      // shared boilerplate header on every doc_id%3==0 page, which mints
      // real corpus-wide duplicated 3-line spans — the dedup must keep
      // exactly the lowest (doc_id, pos) occurrence's lines and strip
      // every other header. Oracle replays the paging, every census,
      // rule precedence, the md5-keyed span census, and the rebuild
      (s, dir) => {
        val words = split(col("text"), " ")
        val nc = expr("(size(split(text, ' ')) + 7) div 8").cast("int")
        val paged = array_join(transform(sequence(lit(0), nc - 1),
          i => concat(array_join(slice(words, i * 8 + 1, lit(8)), " "),
            when(i % 4 =!= 3, lit(".")).otherwise(lit("")))), "\n")
        val header = Seq("one.", "two.", "three.", "four.")
          .map(sfx => s"shared boilerplate header line $sfx")
          .mkString("\n")
        val text2 = when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(header + "\n"), paged)).otherwise(paged)
        graft.functions.TextClean.c4Chain(
            Tables.documents(s, dir).withColumn("text", text2),
            "doc_id", "text", blocklist = Seq("dup", "spill"),
            dropLineSubstrings = Seq("vector"))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w,
             |            CAST((len(string_split(text, ' ')) + 7) // 8
             |              AS INT) AS nc FROM documents),
             |pg AS (SELECT doc_id,
             |         CASE WHEN doc_id % 3 = 0 THEN
             |           'shared boilerplate header line one.' || chr(10) ||
             |           'shared boilerplate header line two.' || chr(10) ||
             |           'shared boilerplate header line three.' || chr(10) ||
             |           'shared boilerplate header line four.' || chr(10)
             |         ELSE '' END ||
             |         array_to_string(list_transform(
             |           generate_series(0, nc - 1),
             |           i -> array_to_string(w[i*8+1 : i*8+8], ' ')
             |                || CASE WHEN i % 4 <> 3 THEN '.'
             |                   ELSE '' END), chr(10)) AS text
             |       FROM w),
             |t AS (SELECT doc_id, text,
             |        string_split(text, chr(10)) AS l FROM pg),
             |k AS (SELECT doc_id, text, l,
             |        list_filter(l, x ->
             |          right(trim(x), 1) IN ('.', '!', '?', '"')
             |          AND len(list_filter(string_split(x, ' '),
             |                y -> length(y) > 0)) >= 5
             |          AND NOT contains(lower(x), 'vector')) AS kl
             |      FROM t),
             |c AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS n_lines,
             |        CAST(len(kl) AS BIGINT) AS n_lines_kept,
             |        coalesce(array_to_string(kl, chr(10)), '')
             |          AS text_clean,
             |        contains(lower(text), 'lorem ipsum') AS lor,
             |        contains(text, '{') AS brc
             |      FROM k),
             |v AS (SELECT doc_id, n_lines, n_lines_kept,
             |        CAST(length(text_clean) - length(regexp_replace(
             |          text_clean, '[.!?]', '', 'g')) AS BIGINT)
             |          AS n_sentences,
             |        CAST(len(list_filter(string_split(text_clean, ' '),
             |          t -> t IN ('dup', 'spill'))) AS INT)
             |          AS n_blocklist_hits,
             |        text_clean, lor, brc FROM c),
             |v2 AS (SELECT *,
             |         CASE WHEN n_sentences < 3 THEN 'too_few_sentences'
             |              WHEN lor THEN 'lorem_ipsum'
             |              WHEN brc THEN 'brace'
             |              WHEN n_blocklist_hits > 0 THEN 'badwords'
             |         END AS first_failed
             |       FROM v),
             |kl2 AS (SELECT doc_id,
             |          string_split(text_clean, chr(10)) AS kl
             |        FROM v2 WHERE first_failed IS NULL),
             |sp AS (SELECT doc_id, i, md5(array_to_string(
             |          kl[CAST(i AS INT):CAST(i + 2 AS INT)], chr(10)))
             |          AS h
             |       FROM (SELECT doc_id, kl,
             |               unnest(generate_series(1, len(kl) - 2)) AS i
             |             FROM kl2 WHERE len(kl) >= 3)),
             |cen AS (SELECT h, count(*) AS n,
             |          min(doc_id * 1000000 + i) AS fk
             |        FROM sp GROUP BY h HAVING count(*) >= 2),
             |-- MATERIALIZED: an outer filter on an unnest-derived
             |-- column hits a DuckDB internal binder assertion unless
             |-- the unnest level is materialized first
             |remx AS MATERIALIZED (SELECT sp.doc_id, cen.fk,
             |          unnest(generate_series(sp.i, sp.i + 2)) AS j
             |        FROM sp JOIN cen USING (h)
             |        WHERE sp.doc_id * 1000000 + sp.i <> cen.fk),
             |-- the first occurrence's own lines are protected from
             |-- overlapping same-span occurrences
             |rem AS (SELECT DISTINCT doc_id, j FROM remx
             |        WHERE NOT (doc_id = fk // 1000000
             |          AND j BETWEEN fk % 1000000
             |                    AND fk % 1000000 + 2)),
             |covs AS (SELECT doc_id, list(j) AS cov, count(*) AS nr
             |         FROM rem GROUP BY doc_id)
             |SELECT v2.doc_id, v2.n_lines, v2.n_lines_kept,
             |  v2.n_sentences, v2.n_blocklist_hits, v2.first_failed,
             |  CAST(CASE WHEN v2.first_failed IS NOT NULL THEN 0
             |       ELSE coalesce(covs.nr, 0) END AS INT)
             |    AS n_span_lines_removed,
             |  CASE WHEN v2.first_failed IS NOT NULL THEN NULL
             |       WHEN covs.doc_id IS NULL THEN v2.text_clean
             |       ELSE coalesce(array_to_string(list_filter(
             |              string_split(v2.text_clean, chr(10)),
             |              (x, i) -> NOT list_contains(covs.cov, i)),
             |              chr(10)), '') END AS final_text,
             |  v2.first_failed IS NULL AS keep
             |FROM v2 LEFT JOIN covs USING (doc_id)
             |ORDER BY v2.doc_id""".stripMargin)),

    QueryDef.headline("blocklist_filter",
      // C4's badwords filter (Raffel et al. 2020 §2.2): whole-token
      // blocklist occurrence count + keep verdict, a pure narrow map with
      // the list as plan literals; oracle recounts every occurrence
      (s, dir) => graft.functions.TextClean.blocklistFilter(
          Tables.documents(s, dir), "doc_id", "text", Seq("dup", "spill"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(len(list_filter(string_split(text, ' '),
             |    t -> t IN ('dup', 'spill'))) AS INT) AS n_blocklist_hits,
             |  len(list_filter(string_split(text, ' '),
             |    t -> t IN ('dup', 'spill'))) = 0 AS keep
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("blocklist_substring",
      // substring blocklist via the native Aho-Corasick expression
      // (plans.MultiSubstringCount): one automaton pass per row counts
      // every occurrence of every pattern — overlaps included, cross-token
      // phrases included — where whole-token isin cannot. Oracle
      // recomputes each pattern's overlap-inclusive count positionally
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"),
          graft.plans.MultiSubstringCount(col("text"),
            Seq("ow", "dup", "merge jo")).as("n_hits"))
        .withColumn("flagged", col("n_hits") > 0)
        .orderBy("doc_id"),
      Some {
        val per = Seq("ow", "dup", "merge jo").map { p =>
          val esc = p.replace("'", "''")
          s"""len(list_filter(generate_series(1, greatest(length(text) - ${p.length - 1}, 0)),
             |    i -> substr(text, CAST(i AS INT), ${p.length}) = '$esc'))""".stripMargin
        }.mkString("\n  + ")
        s"""SELECT doc_id,
           |  CAST($per AS INT) AS n_hits,
           |  ($per) > 0 AS flagged
           |FROM documents ORDER BY doc_id""".stripMargin
      }),

    QueryDef.headline("quality_filter_chain",
      // the C4/Gopher/FineWeb-shaped production chain — the FULL Gopher
      // battery (Table A1 rules then Table A2 repetition filters) first,
      // then blocklist, model score last — emitting the FIRST failing
      // rule per doc (the auditability contract: per-rule loss rates are
      // one groupBy over this output). Word bounds fixture-scaled
      // (20..90); every other threshold the paper's. Oracle re-derives
      // every battery census, the blocklist count, the classifier score,
      // and the full rule precedence
      (s, dir) => TextAnalysis.qualityFilterChain(Tables.documents(s, dir),
          "doc_id", "text", blocklist = Seq("dup", "spill"),
          minWords = 20, maxWords = 90)
        .orderBy("doc_id"),
      Some(s"""WITH $classifierScoreCteSql,
              |${gopherBatterySql(20, 90)},
              |nb AS (SELECT doc_id,
              |         len(list_filter(string_split(text, ' '),
              |           t -> t IN ('dup', 'spill'))) AS nb
              |       FROM documents),
              |v AS (SELECT gv.doc_id, nb.nb, d.score_micronats,
              |        CASE WHEN gv.first_failed IS NOT NULL
              |               THEN gv.first_failed
              |             WHEN nb.nb > 0 THEN 'blocklisted'
              |             WHEN d.score_micronats < 0 THEN 'classifier'
              |        END AS first_failed
              |      FROM gv JOIN nb USING (doc_id) JOIN d USING (doc_id))
              |SELECT doc_id, CAST(nb AS INT) AS n_blocklist_hits,
              |  score_micronats, first_failed,
              |  first_failed IS NULL AS keep
              |FROM v ORDER BY doc_id""".stripMargin)),

    QueryDef("decontaminate",
      // benchmark decontamination report: corpus docs sharing any 5-gram
      // with the benchmark slice (doc_id % 20 = 0), with the count of
      // distinct shared grams; the corpus side never shuffles (broadcast)
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val bench = docs.filter(col("doc_id") % 20 === 0)
        graft.functions.Decontam.overlaps(docs, "doc_id", "text",
            bench, "doc_id", "text", k = 5)
          .orderBy("doc_id")
      },
      Some(s"""WITH sh AS (SELECT doc_id, $Shingles5Sql AS shl FROM documents),
              |e AS (SELECT doc_id, unnest(shl) AS gram FROM sh),
              |bench AS (SELECT DISTINCT gram FROM e WHERE doc_id % 20 = 0)
              |SELECT e.doc_id, count(*) AS n_shared_grams
              |FROM e JOIN bench USING (gram)
              |WHERE e.doc_id % 20 != 0
              |GROUP BY e.doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("decontam_chargrams",
      // char-level decontamination (the GPT-3/PaLM appendix check,
      // tokenization-insensitive): 30-char grams, corpus START POSITIONS
      // sampled at stride 7 (detection guaranteed for shared regions
      // >= k + stride - 1 chars since the bench side enumerates every
      // position), bench grams broadcast, corpus never shuffles
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val bench = docs.filter(col("doc_id") % 20 === 0)
        graft.functions.Decontam.overlapsCharGrams(docs, "doc_id", "text",
            bench, "doc_id", "text", k = 30, stride = 7)
          .orderBy("doc_id")
      },
      Some("""WITH b AS (SELECT DISTINCT unnest(list_transform(
             |    generate_series(1, greatest(length(text) - 29, 1)),
             |    i -> substr(text, CAST(i AS INT), 30))) AS gram
             |  FROM documents WHERE doc_id % 20 = 0),
             |c AS (SELECT doc_id, unnest(list_distinct(list_transform(
             |    generate_series(1, greatest(length(text) - 29, 1), 7),
             |    i -> substr(text, CAST(i AS INT), 30)))) AS gram
             |  FROM documents WHERE doc_id % 20 <> 0)
             |SELECT doc_id, count(*) AS n_shared_chargrams
             |FROM c JOIN b USING (gram)
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("decontaminate_corpus",
      // the decontaminated corpus itself: drop every doc flagged above
      // (benchmark members stay — dropping them is a separate policy)
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val bench = docs.filter(col("doc_id") % 20 === 0)
        graft.functions.Decontam.survivors(docs, "doc_id", "text",
            bench, "doc_id", "text", k = 5)
          .select("doc_id", "lang", "source", "n_chars")
          .orderBy("doc_id")
      },
      Some(s"""WITH sh AS (SELECT doc_id, $Shingles5Sql AS shl FROM documents),
              |e AS (SELECT doc_id, unnest(shl) AS gram FROM sh),
              |bench AS (SELECT DISTINCT gram FROM e WHERE doc_id % 20 = 0),
              |hit AS (SELECT DISTINCT e.doc_id FROM e JOIN bench USING (gram)
              |        WHERE e.doc_id % 20 != 0)
              |SELECT doc_id, lang, source, n_chars FROM documents
              |WHERE doc_id NOT IN (SELECT doc_id FROM hit)
              |ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("decontaminate_bloom",
      // the Bloom-prefiltered decontamination path: a sketch over the
      // benchmark grams drops ~all clean corpus grams BEFORE the exact
      // verify join. Bloom filters have no false negatives and every
      // surviving gram is exact-string-verified, so the report is
      // row-identical to `decontaminate` — the oracle is literally the
      // same SQL, which is the point: the sketch changes the plan, not
      // the answer
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val bench = docs.filter(col("doc_id") % 20 === 0)
        graft.functions.Decontam.overlapsBloom(docs, "doc_id", "text",
            bench, "doc_id", "text", k = 5)
          .orderBy("doc_id")
      },
      Some(s"""WITH sh AS (SELECT doc_id, $Shingles5Sql AS shl FROM documents),
              |e AS (SELECT doc_id, unnest(shl) AS gram FROM sh),
              |bench AS (SELECT DISTINCT gram FROM e WHERE doc_id % 20 = 0)
              |SELECT e.doc_id, count(*) AS n_shared_grams
              |FROM e JOIN bench USING (gram)
              |WHERE e.doc_id % 20 != 0
              |GROUP BY e.doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef("decontaminate_bench_report",
      // the eval-integrity view: per benchmark doc, how many corpus docs
      // it leaked into and how many of its grams leak — a heavily-leaked
      // eval item is compromised regardless of corpus cleaning
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val bench = docs.filter(col("doc_id") % 20 === 0)
        graft.functions.Decontam.benchReport(docs, "doc_id", "text",
            bench, "doc_id", "text", k = 5)
          .orderBy("bench_id")
      },
      Some(s"""WITH sh AS (SELECT doc_id, $Shingles5Sql AS shl FROM documents),
              |e AS (SELECT DISTINCT doc_id, unnest(shl) AS gram FROM sh),
              |bench AS (SELECT doc_id AS bench_id, gram FROM e WHERE doc_id % 20 = 0)
              |SELECT b.bench_id,
              |       count(DISTINCT e.doc_id) AS n_contaminated_docs,
              |       count(DISTINCT b.gram) AS n_leaked_grams
              |FROM e JOIN bench b USING (gram)
              |WHERE e.doc_id % 20 != 0
              |GROUP BY b.bench_id ORDER BY bench_id""".stripMargin)),

    QueryDef.headline("recipe_pretrain_funnel",
      // the flagship composition: lang gate -> Gopher quality -> exact
      // dedup -> benchmark decontam -> deterministic sample -> token
      // budget, all stage flags fused into ONE corpus scan + one digest
      // window + a survivors-only gram probe; output is the per-source
      // funnel a data team reviews before a training run. The oracle
      // replays every stage from raw text.
      (s, dir) => graft.functions.Recipe.pretrainFunnel(
          Tables.documents(s, dir))
        .orderBy("source"),
      Some {
        s"""WITH $recipeStageCtes
           |SELECT source, count(*) AS n_raw,
           |  CAST(sum(CASE WHEN lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
           |  CAST(sum(CASE WHEN surv_q THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
           |  CAST(sum(CASE WHEN surv_d THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
           |  CAST(sum(CASE WHEN surv_c THEN 1 ELSE 0 END) AS BIGINT) AS n_decontam,
           |  CAST(sum(CASE WHEN surv_s THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           |  CAST(sum(CASE WHEN surv_s THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_final
           |FROM s4 GROUP BY source ORDER BY source""".stripMargin
      }),

    QueryDef.headline("recipe_rejection_samples",
      // the funnel's debugging view: per (source, FIRST failed stage) the
      // doc count and the smallest doc id as a reproducible example —
      // every doc lands in exactly one reason bucket, so the census
      // reconciles with the funnel's stage deltas; same single-scan flag
      // plan, one (source, reason) aggregate
      (s, dir) => graft.functions.Recipe.rejectionSamples(
          Tables.documents(s, dir))
        .orderBy("source", "reason"),
      Some {
        s"""WITH $recipeStageCtes,
           |r AS (
           |  SELECT source, doc_id,
           |    CASE WHEN NOT lang_ok THEN 'lang'
           |         WHEN NOT gopher_ok THEN 'quality:' || first_failed
           |         WHEN NOT surv_d THEN 'duplicate'
           |         WHEN NOT surv_c THEN 'contaminated'
           |         WHEN NOT surv_s THEN 'sampled_out'
           |         ELSE 'kept' END AS reason
           |  FROM s4)
           |SELECT source, reason, CAST(count(*) AS BIGINT) AS n_docs,
           |  min(doc_id) AS example_id
           |FROM r GROUP BY source, reason ORDER BY source, reason""".stripMargin
      }),

    QueryDef.headline("k_anonymity_census",
      // release-readiness privacy check: equivalence classes of the
      // quasi-identifier set (nation, market segment), then a census of
      // CLASS SIZES with the at-risk flag (size < k=10 — rows
      // re-identifiable from the QIs alone). Two partial-aggregable
      // shuffles, count-of-counts shape — nothing row-sized anywhere
      (s, dir) => graft.functions.Stats.kAnonymityCensus(
          Tables.customer(s, dir), Seq("c_nationkey", "c_mktsegment"), k = 10)
        .orderBy("class_size"),
      Some("""WITH c AS (
             |  SELECT c_nationkey, c_mktsegment, count(*) AS class_size
             |  FROM customer GROUP BY 1, 2)
             |SELECT CAST(class_size AS BIGINT) AS class_size,
             |  CAST(count(*) AS BIGINT) AS n_classes,
             |  CAST(sum(class_size) AS BIGINT) AS n_rows,
             |  CAST(CASE WHEN class_size < 10 THEN 1 ELSE 0 END AS INT)
             |    AS at_risk
             |FROM c GROUP BY class_size ORDER BY class_size""".stripMargin)),

    QueryDef.headline("classifier_calibration",
      // reliability-diagram bins for the quality classifier vs the weak
      // lang='en' label: fixed 20k-micronat bins (shifted
      // truncating division — engine-identical binning), exact support /
      // positives / pos-rate-ppm / score sums per bin — the monotonicity
      // read that says whether the score is a probability or just a
      // ranking. Bin key space is metadata-sized
      (s, dir) => {
        val scored = graft.functions.Classifier.linearScore(
            Tables.documents(s, dir), "doc_id", "text", dim = 64,
            keep = Seq("lang"))
          .withColumn("y", col("lang") === "en")
        graft.functions.Classifier.calibrationBins(
            scored, "score_micronats", "y", binWidth = 20000L)
          .orderBy("bin")
      },
      Some(s"""WITH $classifierScoreCteSql,
              |b AS (SELECT (score_micronats + 1000000) // 20000 AS bin,
              |        score_micronats AS s, (lang = 'en') AS y
              |      FROM d JOIN documents USING (doc_id))
              |SELECT CAST(bin AS BIGINT) AS bin,
              |  CAST(count(*) AS BIGINT) AS n,
              |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_pos,
              |  CAST(sum(s) AS BIGINT) AS sum_score,
              |  CAST(CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS HUGEINT)
              |    * 1000000 // count(*) AS BIGINT) AS pos_rate_ppm
              |FROM b GROUP BY bin ORDER BY bin""".stripMargin)),

    QueryDef.headline("user_erasure_audit",
      // right-to-be-forgotten compliance: the erasure list (deletion
      // requests — request-sized, broadcast) probes the event log once;
      // per-day kept/removed row counts plus distinct subjects touched.
      // The deletion itself is the same broadcast probe anti-joined
      // (Stats.erase); this is the audit compliance files. The gate's
      // erasure list is every 97th user id
      (s, dir) => {
        val ev = Tables.events(s, dir)
        graft.functions.Stats.erasureAudit(ev, "ts", "user_id",
            ev.select(col("user_id")).filter(pmod(col("user_id"), lit(97)) === 0))
          .orderBy("day")
      },
      Some("""WITH u AS (
             |  SELECT DISTINCT user_id AS eu FROM events
             |  WHERE user_id % 97 = 0),
             |f AS (
             |  SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             |    u.eu IS NOT NULL AS hit,
             |    CASE WHEN u.eu IS NOT NULL THEN e.user_id END AS hit_user
             |  FROM events e LEFT JOIN u ON e.user_id = u.eu)
             |SELECT day,
             |  CAST(sum(CASE WHEN NOT hit THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_kept,
             |  CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_removed,
             |  CAST(count(DISTINCT hit_user) AS BIGINT) AS n_users_erased
             |FROM f GROUP BY day ORDER BY day""".stripMargin)),

    QueryDef.headline("l_diversity_census",
      // the leak k-anonymity misses: a big class where everyone shares
      // the same sensitive value. Census of QI classes by their distinct
      // sensitive-value count with the < l at-risk flag; two partial-
      // aggregable shuffles, all-integer
      (s, dir) => graft.functions.Stats.lDiversityCensus(
          Tables.customer(s, dir), Seq("c_nationkey", "c_mktsegment"),
          "c_acctbal", l = 5)
        .orderBy("n_sensitive"),
      Some("""WITH c AS (
             |  SELECT c_nationkey, c_mktsegment, count(*) AS class_size,
             |    count(DISTINCT c_acctbal) AS n_sensitive
             |  FROM customer GROUP BY 1, 2)
             |SELECT CAST(n_sensitive AS BIGINT) AS n_sensitive,
             |  CAST(count(*) AS BIGINT) AS n_classes,
             |  CAST(sum(class_size) AS BIGINT) AS n_rows,
             |  CAST(CASE WHEN n_sensitive < 5 THEN 1 ELSE 0 END AS INT)
             |    AS at_risk
             |FROM c GROUP BY n_sensitive ORDER BY n_sensitive""".stripMargin)))
}
