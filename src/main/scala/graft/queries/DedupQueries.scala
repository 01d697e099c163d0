package graft.queries

import graft.functions.{Dedup, Graphs, TextAnalysis}
import graft.sources.Tables
import org.apache.spark.sql.functions._
import OracleSql._

/** Deduplication: exact, MinHash and SimHash near-duplicates, n-gram
  * containment, winnowing and content-defined chunks, the distributed
  * suffix array and its span passes, entity matching, and the
  * duplicate-graph analyses. */
object DedupQueries {

  /** DuckDB CTEs recomputing every 64-bit SimHash signature from scratch
    * (token split, md5-u64 token hash, per-bit vote, signed pack) — the
    * independent oracle for [[graft.plans.SimHash64]]. Yields a `sigs`
    * relation (doc_id, simhash). Bit j of a token's hash lives in hex char
    * 16 - j/4 (big-endian), at bit position j%4 within the nibble. */
  private val simhashSigsSql: String = {
    val sums = (0 until 64).map { j =>
      val pos = 16 - j / 4
      val shift = j % 4
      s"sum(CASE WHEN (((strpos('0123456789abcdef', substr(hx, $pos, 1)) - 1) >> $shift) & 1) = 1 THEN 1 ELSE -1 END) AS s$j"
    }.mkString(",\n       ")
    // bit 63 is the sign bit of the signed 64-bit result
    val packed = (0 until 63).map { j =>
      s"(CASE WHEN s$j > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString(" + ")
    val sign = "(CASE WHEN s63 > 0 THEN CAST(-9223372036854775807 - 1 AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    s"""tok AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t FROM documents),
       |hashed AS (SELECT doc_id, substr(md5(t), 1, 16) AS hx FROM tok),
       |sums AS (SELECT doc_id,
       |       $sums
       |     FROM hashed GROUP BY doc_id),
       |sigs AS (SELECT doc_id, CAST($sign + $packed AS BIGINT) AS simhash FROM sums)""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(

    QueryDef.headline("dedup_minhash_sigs",
      // the MinHash signatures THEMSELVES, gate-compared value by value:
      // md5-u64-based hash family (the [[simhash]] oracle trick) exploded
      // to (doc_id, hash_idx, sig) rows so DuckDB recomputes every minimum
      // from scratch — the deepest form of "the oracle retrains the
      // sketch" (the xxhash64 production family is cross-checked against
      // this one structurally: same shingles, same affine family, only
      // the base hash differs)
      (s, dir) => Dedup.minhashSignaturesMd5(Tables.documents(s, dir),
          "doc_id", "text", k = 3, numHashes = 8)
        .orderBy("doc_id", "hash_idx"),
      Some {
        val coeffs = Dedup.minhashCoeffs(8)
        val h32 = """list_reduce(list_transform(
          |      regexp_extract_all(substr(md5(s), 25, 8), '.'),
          |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16 + b)"""
          .stripMargin
        val perIdx = coeffs.zipWithIndex.map { case ((a, b), i) =>
          s"SELECT doc_id, $i AS hash_idx, min(($a * h + $b) % 2147483647) AS sig FROM h GROUP BY doc_id"
        }.mkString("\n  UNION ALL ")
        s"""WITH sh AS (SELECT doc_id, unnest($ShinglesSql) AS s FROM documents),
           |h AS (SELECT doc_id, ($h32 % 2147483647) AS h FROM sh)
           |SELECT doc_id, hash_idx, sig FROM (
           |  $perIdx)
           |ORDER BY doc_id, hash_idx""".stripMargin
      }),

    QueryDef.headline("doc_fingerprint",
      (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CASE WHEN length(text) = 0 THEN 0
             |       ELSE list_reduce(list_transform(regexp_extract_all(text, '.'),
             |              c -> CAST(unicode(c) AS BIGINT)),
             |            (a, b) -> (a * 31 + b) % 1000000007) END AS fp
             |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("suffix_ranks",
      // distributed suffix-array construction (Manber-Myers prefix
      // doubling): global dense lexicographic rank of every (doc, pos)
      // token suffix in O(log maxLCP) relational rounds — the structure
      // behind Lee et al.'s exact-substring dedup. No global window
      // (bucket-offset dense ranking); oracle is ONE dense_rank over the
      // materialized suffix strings, exact because token-sequence order
      // equals space-joined string order
      (s, dir) => graft.functions.SuffixArray.suffixRanks(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id", "pos"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |s AS (SELECT doc_id, i AS pos,
             |        array_to_string(tk[CAST(i AS INT):CAST(len(tk) AS INT)], ' ') AS suf
             |      FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM t))
             |SELECT doc_id, CAST(pos AS INT) AS pos,
             |  CAST(dense_rank() OVER (ORDER BY suf) AS BIGINT) AS suffix_rank
             |FROM s ORDER BY doc_id, pos""".stripMargin)),

    QueryDef.headline("suffix_ranks_incremental",
      // INCREMENTAL SA maintenance (round-11 verdict #5): a synthetic
      // crawl delta — half exact re-crawls (doc_id%14=3, text verbatim),
      // half genuinely-new near-variants (doc_id%14=10, one appended
      // token, so every suffix is fresh and shares its whole old doc as
      // prefix — the escalation worst case) — merges into the LANDED
      // corpus build ([[Artifacts.suffixRanksFrame]], the same artifact the
      // derived passes consume). Oracle: the full rebuild over the
      // union, which the merge must equal exactly
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val delta = docs.filter(pmod(col("doc_id"), lit(14)) === 3)
            .select((col("doc_id") + 10000000L).as("doc_id"), col("text"))
          .unionAll(docs.filter(pmod(col("doc_id"), lit(14)) === 10)
            .select((col("doc_id") + 10000000L).as("doc_id"),
              concat(col("text"), lit(" zzqx")).as("text")))
        graft.functions.SuffixArray.suffixRanksIncrementalFrom(
            s.read.parquet(Artifacts.suffixMergeRepsPath(s, dir)),
            Artifacts.suffixRanksFrame(s, dir), docs, delta, "doc_id", "text")
          .orderBy("doc_id", "pos")
      },
      Some("""WITH u AS (
             |  SELECT doc_id, text FROM documents
             |  UNION ALL SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 14 = 3
             |  UNION ALL SELECT doc_id + 10000000, text || ' zzqx' FROM documents WHERE doc_id % 14 = 10),
             |t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM u),
             |s AS (SELECT doc_id, i AS pos,
             |        array_to_string(tk[CAST(i AS INT):CAST(len(tk) AS INT)], ' ') AS suf
             |      FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM t))
             |SELECT doc_id, CAST(pos AS INT) AS pos,
             |  CAST(dense_rank() OVER (ORDER BY suf) AS BIGINT) AS suffix_rank
             |FROM s ORDER BY doc_id, pos""".stripMargin)),

    QueryDef.headline("suffix_repeats",
      // adjacent-rank LCP census over the suffix array: the repeated-
      // substring detector exact-substring dedup builds on — consecutive
      // ranks are lexicographic neighbors, their common prefix is a
      // substring occurring at both positions; capped at 30 tokens,
      // top-50 by (lcp desc, rank). Consumes the SHARED offline SA build
      // ([[Artifacts.suffixRanksFrame]]) — one construction, many passes
      (s, dir) => graft.functions.SuffixArray.suffixRepeatsFrom(
          Artifacts.suffixRanksFrame(s, dir), Tables.documents(s, dir),
          "doc_id", "text"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |s AS (SELECT doc_id, tk, i AS pos,
             |        array_to_string(tk[CAST(i AS INT):CAST(len(tk) AS INT)], ' ') AS suf
             |      FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM t)),
             |r AS (SELECT doc_id, tk, pos,
             |        CAST(dense_rank() OVER (ORDER BY suf) AS BIGINT) AS rk
             |      FROM s),
             |reps AS (SELECT rk, doc_id, pos, pref FROM (
             |    SELECT rk, doc_id, pos,
             |      row_number() OVER (PARTITION BY rk ORDER BY doc_id, pos) AS rn,
             |      tk[CAST(pos AS INT):CAST(least(pos + 29, len(tk)) AS INT)] AS pref
             |    FROM r) WHERE rn = 1),
             |j AS (SELECT a.rk AS suffix_rank, a.doc_id AS doc_a, a.pos AS pos_a,
             |        b.doc_id AS doc_b, b.pos AS pos_b,
             |        len(list_filter(generate_series(1, least(len(a.pref), len(b.pref), 30)),
             |          i -> a.pref[1:CAST(i AS INT)] = b.pref[1:CAST(i AS INT)])) AS lcp
             |      FROM reps a JOIN reps b ON b.rk = a.rk + 1)
             |SELECT suffix_rank, doc_a, CAST(pos_a AS INT) AS pos_a,
             |  doc_b, CAST(pos_b AS INT) AS pos_b,
             |  CAST(greatest(lcp, 0) AS INT) AS lcp_tokens
             |FROM j ORDER BY lcp_tokens DESC, suffix_rank ASC LIMIT 50""".stripMargin)),

    QueryDef.headline("suffix_dup_spans",
      // per-document duplicated-span census at suffix-array precision
      // (the Lee et al. exact-substring detector): a position starts a
      // >= 8-token duplicated run iff its suffix's max neighbor LCP in
      // SA order clears 8 (rank ties = whole-suffix duplicates). All
      // LCP work at RANK level (clique-safe; reps chosen BEFORE prefix
      // materialization), one linear expansion join; shared SA build
      (s, dir) => graft.functions.SuffixArray.suffixDupSpansFrom(
          Artifacts.suffixRanksFrame(s, dir), Tables.documents(s, dir),
          "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
             |s AS (SELECT doc_id, i AS pos, len(tk) AS n,
             |        array_to_string(tk[CAST(i AS INT):CAST(len(tk) AS INT)], ' ') AS suf,
             |        tk[CAST(i AS INT):CAST(least(i + 29, len(tk)) AS INT)] AS pref
             |      FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM t)),
             |r AS (SELECT doc_id, pos, n - pos + 1 AS slen, pref,
             |        CAST(dense_rank() OVER (ORDER BY suf) AS BIGINT) AS rk
             |      FROM s),
             |reps AS (SELECT rk, nm, pref, slen FROM (
             |    SELECT rk, pref, slen,
             |      row_number() OVER (PARTITION BY rk ORDER BY doc_id, pos) AS rn,
             |      count(*) OVER (PARTITION BY rk) AS nm
             |    FROM r) WHERE rn = 1),
             |nx AS (SELECT a.rk,
             |         len(list_filter(generate_series(1, least(len(a.pref), len(b.pref))),
             |           i -> a.pref[1:CAST(i AS INT)] = b.pref[1:CAST(i AS INT)])) AS lcpn
             |       FROM reps a JOIN reps b ON b.rk = a.rk + 1),
             |stats AS (SELECT reps.rk,
             |            greatest(coalesce(nx.lcpn, 0), coalesce(pv.lcpn, 0),
             |              CASE WHEN reps.nm > 1 THEN least(reps.slen, 30) ELSE 0 END) AS maxl
             |          FROM reps LEFT JOIN nx ON nx.rk = reps.rk
             |          LEFT JOIN nx pv ON pv.rk = reps.rk - 1),
             |j AS (SELECT r.doc_id, stats.maxl FROM r JOIN stats ON stats.rk = r.rk)
             |SELECT doc_id,
             |  CAST(sum(CASE WHEN maxl >= 8 THEN 1 ELSE 0 END) AS INT) AS n_dup_starts,
             |  CAST(max(maxl) AS INT) AS max_lcp_tokens
             |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("suffix_spans_remove",
      // the REMOVAL half of Lee et al.'s exact-substring dedup at SA
      // precision (completing the loop suffix_dup_spans detects for):
      // every token position covered by a >= 8-token duplicated run —
      // start positions are ranks whose max neighbor LCP clears 8, the
      // run extends maxl tokens — is dropped and the text rebuilt from
      // survivors. Same output surface as the 3-gram-quantized
      // dedup_spans_remove, exact span boundaries (up to the 30 cap);
      // consumes the SHARED offline SA build AND the landed detector
      // stats ([[Artifacts.suffixLcpPath]] — detect once, cut from findings).
      // Oracle replays the full dense_rank construction, rank-level LCP
      // stats, position coverage, and the rebuild
      (s, dir) => graft.functions.SuffixArray.suffixSpansRemoveFromStats(
          Artifacts.suffixRanksFrame(s, dir),
          s.read.parquet(Artifacts.suffixLcpPath(s, dir)),
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
             |s AS (SELECT doc_id, i AS pos, len(tk) AS n,
             |        array_to_string(tk[CAST(i AS INT):CAST(len(tk) AS INT)], ' ') AS suf,
             |        tk[CAST(i AS INT):CAST(least(i + 29, len(tk)) AS INT)] AS pref
             |      FROM (SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS i FROM t)),
             |r AS (SELECT doc_id, pos, n - pos + 1 AS slen, pref,
             |        CAST(dense_rank() OVER (ORDER BY suf) AS BIGINT) AS rk
             |      FROM s),
             |reps AS (SELECT rk, nm, pref, slen FROM (
             |    SELECT rk, pref, slen,
             |      row_number() OVER (PARTITION BY rk ORDER BY doc_id, pos) AS rn,
             |      count(*) OVER (PARTITION BY rk) AS nm
             |    FROM r) WHERE rn = 1),
             |nx AS (SELECT a.rk,
             |         len(list_filter(generate_series(1, least(len(a.pref), len(b.pref))),
             |           i -> a.pref[1:CAST(i AS INT)] = b.pref[1:CAST(i AS INT)])) AS lcpn
             |       FROM reps a JOIN reps b ON b.rk = a.rk + 1),
             |stats AS (SELECT reps.rk,
             |            greatest(coalesce(nx.lcpn, 0), coalesce(pv.lcpn, 0),
             |              CASE WHEN reps.nm > 1 THEN least(reps.slen, 30) ELSE 0 END) AS maxl
             |          FROM reps LEFT JOIN nx ON nx.rk = reps.rk
             |          LEFT JOIN nx pv ON pv.rk = reps.rk - 1),
             |st AS (SELECT r.doc_id, r.pos, stats.maxl
             |       FROM r JOIN stats ON stats.rk = r.rk WHERE stats.maxl >= 8),
             |cov AS (SELECT DISTINCT doc_id, j FROM
             |         (SELECT doc_id, unnest(generate_series(pos, pos + maxl - 1)) AS j
             |          FROM st)),
             |covs AS (SELECT doc_id, list(j) AS cov, count(*) AS n_rem
             |         FROM cov GROUP BY doc_id)
             |SELECT t.doc_id,
             |  CASE WHEN c.doc_id IS NULL THEN t.text
             |       ELSE coalesce(array_to_string(list_filter(t.tk,
             |              (x, i) -> NOT list_contains(c.cov, i)), ' '), '') END AS clean_text,
             |  CAST(coalesce(c.n_rem, 0) AS INT) AS n_removed
             |FROM t LEFT JOIN covs c USING (doc_id) ORDER BY t.doc_id""".stripMargin)),

    QueryDef.headline("cdc_chunks",
      // content-defined chunking (Rabin/FastCDC at word granularity):
      // boundaries where the 4-token window hash ≡ 0 (mod 16) — local
      // content decides the cut, so edits only perturb O(1) chunks
      // (the storage-dedup / incremental-sync property fixed windows
      // lack); oracle recomputes every window hash, boundary, and span
      (s, dir) => TextAnalysis.cdcChunks(Tables.documents(s, dir),
          "doc_id", "text")
        .orderBy("doc_id", "chunk_idx"),
      Some {
        val winHash = md5SliceSql(
          "tk[i-3] || ' ' || tk[i-2] || ' ' || tk[i-1] || ' ' || tk[i]")
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
           |b AS (SELECT doc_id, tk, len(tk) AS n,
           |        list_append(
           |          CASE WHEN len(tk) > 4 THEN
           |            list_filter(generate_series(4, len(tk) - 1),
           |              i -> ($winHash) % 16 = 0)
           |          ELSE CAST([] AS BIGINT[]) END, len(tk)) AS bp
           |      FROM t),
           |c AS (SELECT doc_id, tk, bp, unnest(generate_series(1, len(bp))) AS j FROM b),
           |d AS (SELECT doc_id, tk, bp, j,
           |        CASE WHEN j = 1 THEN 1 ELSE bp[CAST(j - 1 AS INT)] + 1 END AS st
           |      FROM c)
           |SELECT doc_id, CAST(j AS INT) AS chunk_idx,
           |  CAST(st AS INT) AS start_pos,
           |  CAST(bp[CAST(j AS INT)] - st + 1 AS INT) AS chunk_len,
           |  md5(array_to_string(tk[CAST(st AS INT):CAST(bp[CAST(j AS INT)] AS INT)], ' ')) AS chunk_md5
           |FROM d ORDER BY doc_id, chunk_idx""".stripMargin
      }),

    QueryDef.headline("winnow_fingerprints",
      // winnowing (Schleimer et al. 2003, MOSS): min-hash of each sliding
      // window of w=4 gram hashes over k=3-word grams, leftmost ties,
      // deduped — shared runs >= w+k-1 words guarantee a shared
      // fingerprint. Narrow array expressions; the oracle recomputes every
      // gram hash and every window argmin
      (s, dir) => TextAnalysis.winnowFingerprints(Tables.documents(s, dir),
          "doc_id", "text", k = 3, w = 4)
        .orderBy("doc_id", "pos"),
      Some {
        val gramHash = md5SliceSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
           |           FROM documents WHERE len(string_split(text, ' ')) >= 3),
           |h AS (SELECT doc_id,
           |        list_transform(generate_series(1, len(tk) - 2),
           |          i -> $gramHash) AS hs
           |      FROM t),
           |wj AS (SELECT doc_id, hs,
           |         unnest(generate_series(1, greatest(len(hs) - 3, 1))) AS j
           |       FROM h),
           |sel AS (SELECT doc_id, hs,
           |          list_reduce(generate_series(j, least(j + 3, len(hs))),
           |            (a, b) -> CASE WHEN hs[b] < hs[a] THEN b ELSE a END) AS pos
           |        FROM wj)
           |SELECT DISTINCT doc_id, CAST(pos AS INT) AS pos, hs[pos] AS fp
           |FROM sel ORDER BY doc_id, pos""".stripMargin
      }),

    QueryDef.headline("winnow_overlap_pairs",
      // local-overlap candidates from the winnowing index: doc pairs
      // sharing >= 2 selected fingerprints (MOSS's match step) — an
      // inverted-index equi-join on fp at winnowed density, never doc x
      // doc, with identical-content cliques collapsed to one
      // representative before the join (round-10; winnowing + candidate
      // counting run at distinct-text level, id pairs expand at the end)
      (s, dir) => TextAnalysis.winnowOverlapPairs(Tables.documents(s, dir),
          "doc_id", "text", k = 3, w = 4, minShared = 2L)
        .orderBy("id_a", "id_b"),
      Some {
        val gramHash = md5SliceSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
           |           FROM documents WHERE len(string_split(text, ' ')) >= 3),
           |h AS (SELECT doc_id,
           |        list_transform(generate_series(1, len(tk) - 2),
           |          i -> $gramHash) AS hs
           |      FROM t),
           |wj AS (SELECT doc_id, hs,
           |         unnest(generate_series(1, greatest(len(hs) - 3, 1))) AS j
           |       FROM h),
           |sel AS (SELECT DISTINCT doc_id,
           |          hs[list_reduce(generate_series(j, least(j + 3, len(hs))),
           |            (a, b) -> CASE WHEN hs[b] < hs[a] THEN b ELSE a END)] AS fp
           |        FROM wj)
           |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |  count(*) AS n_shared_fps
           |FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
           |GROUP BY 1, 2 HAVING count(*) >= 2
           |ORDER BY id_a, id_b""".stripMargin
      }),

    QueryDef.headline("dedup_edit_verify",
      // edit-distance verification of the winnowing candidates: the MOSS
      // match step's survivors re-checked with exact Levenshtein over the
      // 80-char prefixes — candidates only (the fp-keyed inverted index
      // blocks the O(n²)), never doc × doc. Both engines implement the
      // classic unit-cost DP, so the distance is engine-exact
      // clique-collapsed (round-10): the Levenshtein DP runs once per
      // DISTINCT-TEXT pair; within-clique pairs are distance 0 with no DP
      (s, dir) => TextAnalysis.editVerifiedPairs(Tables.documents(s, dir),
          "doc_id", "text", k = 3, w = 4, minShared = 2L, prefixLen = 80)
        .orderBy("id_a", "id_b"),
      Some {
        val gramHash = md5SliceSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")
        s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
           |           FROM documents WHERE len(string_split(text, ' ')) >= 3),
           |h AS (SELECT doc_id,
           |        list_transform(generate_series(1, len(tk) - 2),
           |          i -> $gramHash) AS hs
           |      FROM t),
           |wj AS (SELECT doc_id, hs,
           |         unnest(generate_series(1, greatest(len(hs) - 3, 1))) AS j
           |       FROM h),
           |sel AS (SELECT DISTINCT doc_id,
           |          hs[list_reduce(generate_series(j, least(j + 3, len(hs))),
           |            (a, b) -> CASE WHEN hs[b] < hs[a] THEN b ELSE a END)] AS fp
           |        FROM wj),
           |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           |         CAST(count(*) AS BIGINT) AS n_shared_fps
           |       FROM sel a JOIN sel b ON a.fp = b.fp AND a.doc_id < b.doc_id
           |       GROUP BY 1, 2 HAVING count(*) >= 2)
           |SELECT pr.id_a, pr.id_b, pr.n_shared_fps,
           |  CAST(levenshtein(substr(da.text, 1, 80), substr(db.text, 1, 80)) AS BIGINT) AS edit_dist
           |FROM pr
           |JOIN documents da ON da.doc_id = pr.id_a
           |JOIN documents db ON db.doc_id = pr.id_b
           |ORDER BY id_a, id_b""".stripMargin
      }),

    QueryDef.headline("dedup_spans",
      // corpus-wide duplicated-span census (the exact-substring primitive
      // of Lee et al. 2022): every 3-word shingle in >= 2 distinct docs
      // with its doc frequency; oracle recomputes shingling + counting
      (s, dir) => graft.functions.Dedup.duplicatedSpans(
          Tables.documents(s, dir), "doc_id", "text", k = 3, minDocs = 2)
        .orderBy("sh"),
      Some(s"""WITH sh AS (SELECT doc_id, unnest($ShinglesSql) AS sh FROM documents)
              |SELECT sh, count(DISTINCT doc_id) AS n_docs
              |FROM sh GROUP BY sh HAVING count(DISTINCT doc_id) >= 2
              |ORDER BY sh""".stripMargin)),

    QueryDef.headline("dedup_spans_remove",
      // the removal half of Lee et al.: words covered by any corpus-
      // duplicated 3-gram are dropped from each doc; oracle recomputes the
      // census, positional gram hits, covered indices, and the rebuilt text
      (s, dir) => graft.functions.Dedup.removeDuplicatedSpans(
          Tables.documents(s, dir), "doc_id", "text", k = 3, minDocs = 2)
        .orderBy("doc_id"),
      Some(s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
              |allsh AS (SELECT doc_id, unnest($ShinglesSql) AS sh FROM documents),
              |dup AS (SELECT sh FROM (SELECT sh, count(DISTINCT doc_id) AS nd
              |                        FROM allsh GROUP BY sh) WHERE nd >= 2),
              |p AS (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
              |      FROM t WHERE len(toks) >= 3),
              |g AS (SELECT doc_id, i, array_to_string(toks[i:i+2], ' ') AS sh FROM p),
              |cov AS (SELECT DISTINCT doc_id, j FROM
              |         (SELECT doc_id, unnest(generate_series(i, i + 2)) AS j
              |          FROM g JOIN dup USING (sh))),
              |covs AS (SELECT doc_id, list(j) AS cov, count(*) AS n_rem
              |         FROM cov GROUP BY doc_id)
              |SELECT t.doc_id,
              |  CASE WHEN c.doc_id IS NULL THEN t.text
              |       ELSE coalesce(array_to_string(list_filter(t.toks,
              |              (x, i) -> NOT list_contains(c.cov, i)), ' '), '') END AS clean_text,
              |  CAST(coalesce(c.n_rem, 0) AS INT) AS n_removed
              |FROM t LEFT JOIN covs c USING (doc_id) ORDER BY t.doc_id""".stripMargin)),

    QueryDef("entity_match_names",
      // cross-table entity resolution: customer names fuzzy-matched to
      // supplier names by char-3-gram Jaccard through the PREFIX-FILTERED
      // similarity join; the oracle is the COMPLETE inverted-index join —
      // prefix filtering is an engine-side optimization with an exactness
      // theorem, so outputs are identical. The gate slices the customer
      // side (custkey % 10 = 0): at this corpus's LOW threshold (0.27 — the
      // synthetic names cap at jaccard 0.294) the prefix keeps 12 of 16
      // grams, so BOTH engines degrade toward all-pairs and the exact
      // oracle is quadratic — the embedding_near_dup stance: exact-oracle
      // shape capped, full-side behavior measured in SCALING.md (real
      // deployments match at t >= 0.5 where the prefix is 2-3 grams)
      (s, dir) => graft.functions.Entity.similarNamePairs(
          Tables.customer(s, dir).filter(col("c_custkey") % 10 === 0),
          "c_custkey", "c_name",
          Tables.supplier(s, dir), "s_suppkey", "s_name",
          k = 3, threshold = 0.27)
        .orderBy("id_a", "id_b"),
      Some("""WITH ag AS (SELECT c_custkey AS id_a,
             |    unnest(list_distinct(list_transform(
             |      generate_series(1, len(lower(c_name)) - 2),
             |      i -> lower(c_name)[i:i+2]))) AS g
             |  FROM customer WHERE c_custkey % 10 = 0),
             |bg AS (SELECT s_suppkey AS id_b,
             |    unnest(list_distinct(list_transform(
             |      generate_series(1, len(lower(s_name)) - 2),
             |      i -> lower(s_name)[i:i+2]))) AS g FROM supplier),
             |na AS (SELECT id_a, count(*) AS n FROM ag GROUP BY id_a),
             |nb AS (SELECT id_b, count(*) AS n FROM bg GROUP BY id_b),
             |j AS (SELECT id_a, id_b, count(*) AS n_shared
             |      FROM ag JOIN bg USING (g) GROUP BY id_a, id_b)
             |SELECT id_a, id_b, n_shared,
             |  CAST(n_shared AS DOUBLE) / (na.n + nb.n - n_shared) AS jaccard
             |FROM j JOIN na USING (id_a) JOIN nb USING (id_b)
             |WHERE CAST(n_shared AS DOUBLE) / (na.n + nb.n - n_shared) >= 0.27
             |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef.headline("entity_match_keys",
      // the production regime of the same operator: normalized (digit)
      // keys at t=0.8 over the FULL sides — the prefix keeps 2-3 of ~7
      // grams, so candidates come only from rare-gram collisions and the
      // join never degenerates (37.6s -> 1.5s at sf0.1, SCALING.md)
      (s, dir) => graft.functions.Entity.similarNamePairs(
          Tables.customer(s, dir).withColumn("ckey",
            regexp_replace(col("c_name"), "[^0-9]", "")),
          "c_custkey", "ckey",
          Tables.supplier(s, dir).withColumn("skey",
            regexp_replace(col("s_name"), "[^0-9]", "")),
          "s_suppkey", "skey",
          k = 3, threshold = 0.8)
        .orderBy("id_a", "id_b"),
      Some("""WITH ag AS (SELECT c_custkey AS id_a,
             |    unnest(list_distinct(list_transform(
             |      generate_series(1, len(regexp_replace(c_name, '[^0-9]', '', 'g')) - 2),
             |      i -> regexp_replace(c_name, '[^0-9]', '', 'g')[i:i+2]))) AS g
             |  FROM customer),
             |bg AS (SELECT s_suppkey AS id_b,
             |    unnest(list_distinct(list_transform(
             |      generate_series(1, len(regexp_replace(s_name, '[^0-9]', '', 'g')) - 2),
             |      i -> regexp_replace(s_name, '[^0-9]', '', 'g')[i:i+2]))) AS g
             |  FROM supplier),
             |na AS (SELECT id_a, count(*) AS n FROM ag GROUP BY id_a),
             |nb AS (SELECT id_b, count(*) AS n FROM bg GROUP BY id_b),
             |j AS (SELECT id_a, id_b, count(*) AS n_shared
             |      FROM ag JOIN bg USING (g) GROUP BY id_a, id_b)
             |SELECT id_a, id_b, n_shared,
             |  CAST(n_shared AS DOUBLE) / (na.n + nb.n - n_shared) AS jaccard
             |FROM j JOIN na USING (id_a) JOIN nb USING (id_b)
             |WHERE CAST(n_shared AS DOUBLE) / (na.n + nb.n - n_shared) >= 0.8
             |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef.headline("dedup_exact",
      (s, dir) => Dedup.exactGroups(Tables.documents(s, dir), "text", "doc_id")
        .orderBy("digest"),
      Some("""SELECT md5(text) AS digest, min(doc_id) AS keep_id, count(*) AS n_dups
             |FROM documents GROUP BY md5(text) ORDER BY digest""".stripMargin)),

    QueryDef("dedup_exact_rows",
      (s, dir) => Dedup.exactDedup(Tables.documents(s, dir), "text", "doc_id")
        .select("doc_id", "lang", "source", "n_chars").orderBy("doc_id"),
      Some("""SELECT doc_id, lang, source, n_chars FROM (
             |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
             |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin)),

    QueryDef("dedup_cap",
      // soft dedup: at most 2 copies of any exact text survive (pipelines
      // that UP-weight common docs keep N copies instead of hard-deduping)
      (s, dir) => Dedup.capDuplicates(Tables.documents(s, dir),
          "text", "doc_id", maxCopies = 2)
        .select("doc_id", "copy_rank", "lang", "source")
        .orderBy("doc_id"),
      Some("""SELECT doc_id, copy_rank, lang, source FROM (
             |  SELECT doc_id, lang, source,
             |    CAST(row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS INT)
             |      AS copy_rank
             |  FROM documents) WHERE copy_rank <= 2 ORDER BY doc_id""".stripMargin)),

    QueryDef("dedup_incremental",
      // nightly-ingest dedup: the new batch (doc_id % 7 = 0) anti-joined by
      // content hash against the already-accepted corpus (the rest); the
      // documents table's replicated dup clusters make real hash hits
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        Dedup.dedupAgainstCorpus(
            docs.filter(col("doc_id") % 7 === 0),
            docs.filter(col("doc_id") % 7 =!= 0), "text")
          .select("doc_id", "lang", "source")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang, source FROM documents
             |WHERE doc_id % 7 = 0 AND md5(text) NOT IN
             |  (SELECT md5(text) FROM documents WHERE doc_id % 7 != 0)
             |ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("dedup_incremental_near",
      // the NEAR-dup analogue of dedup_incremental: the new batch
      // (doc_id % 7 = 0) probes a PERSISTED band index of the accepted
      // corpus (parquet partitioned by band — built once, offline), then
      // exact-Jaccard-verifies candidates against only the corpus docs
      // that were hit; the oracle recomputes the exact cross-set pair
      // set independently (LSH recall is 1 at this threshold/banding on
      // this corpus, pinned in ScalaTest)
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val incoming = docs.filter(col("doc_id") % 7 === 0)
        val corpus = docs.filter(col("doc_id") % 7 =!= 0)
        val index = s.read.parquet(Artifacts.bandIndexPath(s, dir))
        Dedup.nearDupAgainstCorpus(incoming, corpus, index, "doc_id", "text",
            k = 3, numHashes = 16, threshold = 0.8)
          .orderBy("id_new", "id_corp")
      },
      Some(s"""WITH sh AS (
              |  SELECT doc_id, unnest($ShinglesSql) AS sh
              |  FROM documents),
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |pairs AS (
              |  SELECT a.doc_id AS id_new, b.doc_id AS id_corp, count(*) AS inter
              |  FROM sh a JOIN sh b USING (sh)
              |  WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 != 0
              |  GROUP BY 1, 2)
              |SELECT id_new, id_corp,
              |       CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
              |FROM pairs
              |JOIN sizes sa ON sa.doc_id = id_new
              |JOIN sizes sb ON sb.doc_id = id_corp
              |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
              |ORDER BY id_new, id_corp""".stripMargin)),

    QueryDef("corpus_stats",
      // curation dashboard: per (lang, source) doc/char/token/unique-text
      // totals — all integer aggregates, merge-order independent
      (s, dir) => TextAnalysis.corpusStats(Tables.documents(s, dir),
          "text", Seq("lang", "source"))
        .orderBy("lang", "source"),
      Some("""SELECT lang, source, count(*) AS n_docs,
             |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
             |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
             |  count(DISTINCT md5(text)) AS n_unique_texts
             |FROM documents GROUP BY lang, source
             |ORDER BY lang, source""".stripMargin)),

    QueryDef.headline("source_overlap",
      // pairwise 3-gram Jaccard between sources over each source's
      // distinct shingle set — which slices of the corpus are worth
      // cross-deduplicating; the oracle rebuilds the whole matrix
      (s, dir) => Dedup.groupOverlap(Tables.documents(s, dir),
          "source", "text", k = 3)
        .orderBy("grp_a", "grp_b"),
      Some(s"""WITH sg AS (
              |  SELECT DISTINCT source AS grp, g FROM (
              |    SELECT source, unnest($ShinglesSql) AS g FROM documents)),
              |sz AS (SELECT grp, count(*) AS n FROM sg GROUP BY grp),
              |p AS (SELECT a.grp AS grp_a, b.grp AS grp_b, count(*) AS n_shared
              |      FROM sg a JOIN sg b ON a.g = b.g AND a.grp < b.grp
              |      GROUP BY 1, 2)
              |SELECT grp_a, grp_b, sa.n AS n_a, sb.n AS n_b, n_shared,
              |       CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) AS jaccard
              |FROM p JOIN sz sa ON sa.grp = grp_a JOIN sz sb ON sb.grp = grp_b
              |ORDER BY grp_a, grp_b""".stripMargin)),

    QueryDef.headline("source_similarity_sketch",
      // the sketch-merge sibling of source_overlap: per-source MinHash
      // signatures (associative min — sketches of slices merge without
      // re-reading data) and pairwise agreement as the Jaccard estimate;
      // md5-based base hash so the oracle retrains every signature
      (s, dir) => Dedup.groupMinhashSimilarity(Tables.documents(s, dir),
          "source", "text", k = 3, numHashes = 16)
        .orderBy("grp_a", "grp_b"),
      Some {
        val coeffs = Dedup.minhashCoeffs(16)
        val h32 = """list_reduce(list_transform(
          |      regexp_extract_all(substr(md5(s), 25, 8), '.'),
          |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16 + b)"""
          .stripMargin
        val minCols = coeffs.zipWithIndex.map { case ((a, b), i) =>
          s"min(($a * h + $b) % 2147483647) AS m$i"
        }.mkString(",\n       ")
        val agree = (0 until 16)
          .map(i => s"CASE WHEN a.m$i = b.m$i THEN 1 ELSE 0 END").mkString(" + ")
        s"""WITH sh AS (SELECT source AS grp, unnest($ShinglesSql) AS s FROM documents),
           |h AS (SELECT grp, ($h32 % 2147483647) AS h FROM sh),
           |sig AS (SELECT grp,
           |       $minCols
           |       FROM h GROUP BY grp)
           |SELECT a.grp AS grp_a, b.grp AS grp_b,
           |  CAST($agree AS BIGINT) AS n_agree,
           |  CAST($agree AS DOUBLE) / 16.0 AS est_jaccard
           |FROM sig a JOIN sig b ON a.grp < b.grp
           |ORDER BY grp_a, grp_b""".stripMargin
      }),

    QueryDef.headline("corpus_divergence",
      // mixture QA: per-language Jensen-Shannon decomposition between two
      // corpus halves (doc_id parity stands in for "two crawl snapshots").
      // Counts are exact integers; the JS contribution is quantized to
      // integer nanonats right after the ln (the perplexity discipline),
      // so the gate is engine-exact
      (s, dir) => {
        val d = Tables.documents(s, dir)
        TextAnalysis.jsDivergenceByStratum(
            d.filter(col("doc_id") % 2 === 0),
            d.filter(col("doc_id") % 2 =!= 0), "lang")
          .orderBy("lang")
      },
      Some("""WITH a AS (SELECT lang, count(*) AS n_a FROM documents
             |           WHERE doc_id % 2 = 0 GROUP BY lang),
             |b AS (SELECT lang, count(*) AS n_b FROM documents
             |      WHERE doc_id % 2 != 0 GROUP BY lang),
             |ta AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM documents WHERE doc_id % 2 = 0),
             |tb AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM documents WHERE doc_id % 2 != 0),
             |j AS (SELECT coalesce(a.lang, b.lang) AS lang,
             |             CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
             |             CAST(coalesce(n_b, 0) AS BIGINT) AS n_b
             |      FROM a FULL OUTER JOIN b ON a.lang = b.lang),
             |pq AS (SELECT lang, n_a, n_b,
             |         CAST(n_a AS DOUBLE) / (SELECT t FROM ta) AS p,
             |         CAST(n_b AS DOUBLE) / (SELECT t FROM tb) AS q
             |       FROM j),
             |d AS (SELECT lang, n_a, n_b, p, q, (p + q) / 2.0 AS m FROM pq)
             |SELECT lang, n_a, n_b,
             |  CAST(floor((
             |    (CASE WHEN p = 0.0 THEN 0.0 ELSE 0.5 * p * ln(p / m) END)
             |    + (CASE WHEN q = 0.0 THEN 0.0 ELSE 0.5 * q * ln(q / m) END)
             |  ) * 1000000000.0 + 0.5) AS BIGINT) AS js_nanonats
             |FROM d ORDER BY lang""".stripMargin)),

    QueryDef.headline("dedup_minhash",
      (s, dir) => Dedup.minhashDedupPairs(Tables.documents(s, dir),
          "doc_id", "text", k = 3, numHashes = 16, threshold = 0.8)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH sh AS (
              |  SELECT doc_id, unnest($ShinglesSql) AS sh
              |  FROM documents),
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |pairs AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |  FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id
              |  GROUP BY 1, 2)
              |SELECT id_a, id_b,
              |       CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
              |FROM pairs
              |JOIN sizes sa ON sa.doc_id = id_a
              |JOIN sizes sb ON sb.doc_id = id_b
              |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8
              |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef("dedup_pair_provenance",
      // where do near-dups come from — the same source or across sources?
      // The census that decides whether per-source dedup (cheap, parallel)
      // suffices or global dedup (one corpus-wide shuffle) is required;
      // oracle recomputes the exact pair set and both provenance joins
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
          k = 3, numHashes = 16, threshold = 0.8)
        val src = docs.select(col("doc_id"), col("source"))
        pairs
          .join(src.select(col("doc_id").as("id_a"), col("source").as("src_a")), Seq("id_a"))
          .join(src.select(col("doc_id").as("id_b"), col("source").as("src_b")), Seq("id_b"))
          .groupBy((col("src_a") === col("src_b")).as("same_source"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("same_source")
      },
      Some(s"""WITH sh AS (
              |  SELECT doc_id, unnest($ShinglesSql) AS sh
              |  FROM documents),
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |jp AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |  FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |good AS (
              |  SELECT id_a, id_b FROM jp
              |  JOIN sizes sa ON sa.doc_id = id_a
              |  JOIN sizes sb ON sb.doc_id = id_b
              |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8)
              |SELECT (da.source = db.source) AS same_source, count(*) AS n_pairs
              |FROM good
              |JOIN documents da ON da.doc_id = id_a
              |JOIN documents db ON db.doc_id = id_b
              |GROUP BY 1 ORDER BY same_source""".stripMargin)),

    QueryDef("dedup_minhash_rows",
      // the surviving corpus (greedy keep-lowest-id over near-dup pairs);
      // oracle recomputes the pair set exactly (exact Jaccard — LSH recall
      // is 1 at this threshold/banding, pinned in ScalaTest) and anti-joins
      (s, dir) => Dedup.minhashSurvivors(Tables.documents(s, dir),
          "doc_id", "text", k = 3, numHashes = 16, threshold = 0.8)
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id"),
      Some(s"""WITH sh AS (
              |  SELECT doc_id, unnest($ShinglesSql) AS sh
              |  FROM documents),
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |pairs AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |  FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |dropped AS (
              |  SELECT DISTINCT id_b FROM pairs
              |  JOIN sizes sa ON sa.doc_id = id_a
              |  JOIN sizes sb ON sb.doc_id = id_b
              |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8)
              |SELECT doc_id, lang, source, n_chars FROM documents
              |WHERE doc_id NOT IN (SELECT id_b FROM dropped)
              |ORDER BY doc_id""".stripMargin)),

    QueryDef("dedup_clusters",
      // connected components over near-dup pairs (cluster_id = min reachable
      // doc id; iterative min-label propagation) — verified against a DuckDB
      // RECURSIVE CTE computing reachability from the exact-Jaccard pairs
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
          k = 3, numHashes = 16, threshold = 0.8)
        Dedup.connectedComponents(docs, "doc_id", pairs)
          .select(col("id").as("doc_id"), col("cluster_id"))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE sh AS (
              |  SELECT doc_id, unnest($ShinglesSql) AS sh
              |  FROM documents),
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |jp AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |  FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |good AS (
              |  SELECT id_a, id_b FROM jp
              |  JOIN sizes sa ON sa.doc_id = id_a
              |  JOIN sizes sb ON sb.doc_id = id_b
              |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
              |edges AS (SELECT id_a AS src, id_b AS dst FROM good
              |          UNION ALL SELECT id_b, id_a FROM good),
              |reach(id, lbl) AS (
              |  SELECT doc_id, doc_id FROM documents
              |  UNION
              |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id)
              |SELECT id AS doc_id, min(lbl) AS cluster_id
              |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin)),

    QueryDef("dedup_keep_best",
      // quality-aware survivor selection: per near-dup cluster keep the
      // highest-quality member (id tie-break) — clusters, quality scores,
      // and the argmax are ALL recomputed independently by the oracle
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val q = TextAnalysis.qualityMetrics(docs)
          .withColumn("q", TextAnalysis.qualityScore())
        val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
          k = 3, numHashes = 16, threshold = 0.8)
        val clusters = Dedup.connectedComponents(docs, "doc_id", pairs)
        Dedup.keepBestPerCluster(q, "doc_id", "q", clusters)
          .orderBy("cluster_id")
      },
      Some {
        val en = TextAnalysis.Langs.head._2.map("'" + _ + "'").mkString(",")
        s"""WITH RECURSIVE sh AS (
           |  SELECT doc_id, unnest($ShinglesSql) AS sh FROM documents),
           |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           |jp AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           |  FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |good AS (
           |  SELECT id_a, id_b FROM jp
           |  JOIN sizes sa ON sa.doc_id = id_a
           |  JOIN sizes sb ON sb.doc_id = id_b
           |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
           |edges AS (SELECT id_a AS src, id_b AS dst FROM good
           |          UNION ALL SELECT id_b, id_a FROM good),
           |reach(id, lbl) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
           |clus AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
           |m AS (SELECT doc_id,
           |        len(string_split(text,' ')) AS n_tokens,
           |        len(list_distinct(string_split(text,' '))) AS n_uniq_tokens,
           |        len(list_intersect(string_split(text,' '), [$en])) AS n_stop,
           |        length(text) AS n_chars
           |      FROM documents),
           |q AS (SELECT doc_id,
           |        (CAST(n_uniq_tokens AS DOUBLE) / n_tokens) * 0.5
           |        + (CAST(n_stop AS DOUBLE) / n_uniq_tokens) * 0.2
           |        + least((CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens) / 10.0, 1.0) * 0.3 AS score
           |      FROM m),
           |r AS (SELECT c.cluster_id, c.id,
           |        row_number() OVER (PARTITION BY c.cluster_id
           |          ORDER BY q.score DESC, c.id ASC) AS rn,
           |        count(*) OVER (PARTITION BY c.cluster_id) AS n_members
           |      FROM clus c JOIN q ON q.doc_id = c.id)
           |SELECT cluster_id, id AS keep_id, n_members
           |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin
      }),

    QueryDef("corpus_diff",
      // snapshot reconciliation by content hash: old = ids % 7 != 0, new =
      // ids % 11 != 0 with % 5 == 0 texts "edited" — all four statuses
      // occur deterministically from one table; only (id, hash) shuffles
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val oldV = docs.filter(col("doc_id") % 7 =!= 0)
        val newV = docs.filter(col("doc_id") % 11 =!= 0)
          .withColumn("text",
            when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")))
        graft.functions.Dedup.corpusDiff(oldV, newV, "doc_id", "text")
          .orderBy("id")
      },
      Some("""WITH o AS (SELECT doc_id AS id, md5(text) AS h FROM documents WHERE doc_id % 7 != 0),
             |n AS (SELECT doc_id AS id,
             |        md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END) AS h
             |      FROM documents WHERE doc_id % 11 != 0)
             |SELECT coalesce(o.id, n.id) AS id,
             |  CASE WHEN o.id IS NULL THEN 'added'
             |       WHEN n.id IS NULL THEN 'removed'
             |       WHEN o.h != n.h THEN 'changed'
             |       ELSE 'unchanged' END AS status
             |FROM o FULL OUTER JOIN n ON o.id = n.id
             |ORDER BY id""".stripMargin)),

    QueryDef("dedup_ngram_jaccard",
      // exact all-pairs Jaccard, blocked by source to bound the quadratic
      (s, dir) => Dedup.jaccardPairs(Tables.documents(s, dir),
          "doc_id", "text", blockCol = "source", k = 3, threshold = 0.3)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH d AS (SELECT doc_id, source, $ShinglesSql AS sh FROM documents)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |         / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
              |FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
              |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              |         / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.3
              |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef("dedup_containment",
      // directional shingle containment |A∩B|/|A| — catches a short doc
      // embedded in a long one where symmetric jaccard stays low
      (s, dir) => Dedup.containmentPairs(Tables.documents(s, dir),
          "doc_id", "text", blockCol = "source", k = 3, threshold = 0.5)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH d AS (SELECT doc_id, source, $ShinglesSql AS sh FROM documents)
              |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |       CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) AS containment
              |FROM d a JOIN d b ON a.source = b.source AND a.doc_id != b.doc_id
              |WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) >= 0.5
              |ORDER BY id_a, id_b""".stripMargin)),

    QueryDef("dedup_cluster_sizes",
      // corpus-health census: histogram of near-dup cluster sizes (how
      // much of the corpus is singletons vs 2-cliques vs jumbo clusters);
      // oracle recomputes pairs, the RECURSIVE components, and the census
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
          k = 3, numHashes = 16, threshold = 0.8)
        Dedup.connectedComponents(docs, "doc_id", pairs)
          .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
          .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
          .select(col("sz").as("cluster_size"), col("n_clusters"))
          .orderBy("cluster_size")
      },
      Some(s"""WITH RECURSIVE sh AS (
              |  SELECT doc_id, unnest($ShinglesSql) AS sh
              |  FROM documents),
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |jp AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |  FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |good AS (
              |  SELECT id_a, id_b FROM jp
              |  JOIN sizes sa ON sa.doc_id = id_a
              |  JOIN sizes sb ON sb.doc_id = id_b
              |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
              |edges AS (SELECT id_a AS src, id_b AS dst FROM good
              |          UNION ALL SELECT id_b, id_a FROM good),
              |reach(id, lbl) AS (
              |  SELECT doc_id, doc_id FROM documents
              |  UNION
              |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
              |clus AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
              |cs AS (SELECT cluster_id, count(*) AS sz FROM clus GROUP BY cluster_id)
              |SELECT sz AS cluster_size, count(*) AS n_clusters
              |FROM cs GROUP BY sz ORDER BY cluster_size""".stripMargin)),

    QueryDef.headline("graph_pagerank",
      // centrality over the near-dup graph: which documents anchor the big
      // duplicate neighborhoods (the review-priority ranking for survivor
      // policies). Integer power iteration — every round recomputed in SQL,
      // including the exact-Jaccard edge rebuild the cluster gates share.
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val pairs = Dedup.minhashDedupPairs(docs, "doc_id", "text",
          k = 3, numHashes = 16, threshold = 0.8)
        Graphs.pageRank(docs, "doc_id", pairs, iterations = 3)
          .orderBy("doc_id")
      },
      Some(s"""WITH sh AS (
              |  SELECT doc_id, unnest($ShinglesSql) AS sh
              |  FROM documents),
              |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
              |jp AS (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              |  FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id
              |  GROUP BY 1, 2),
              |good AS (
              |  SELECT id_a, id_b FROM jp
              |  JOIN sizes sa ON sa.doc_id = id_a
              |  JOIN sizes sb ON sb.doc_id = id_b
              |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
              |${Graphs.pageRankOracleSql("documents", "doc_id", "good", iterations = 3)}
              |SELECT id AS doc_id, CAST(rank AS BIGINT) AS rank_nano FROM r3 ORDER BY doc_id""".stripMargin)),

    QueryDef("dedup_simhash",
      // md5-u64 token hash on purpose: DuckDB recomputes every signature
      // from scratch (split -> md5 -> bit votes -> signed pack), so the gate
      // hash-compares real independently-derived values
      (s, dir) => Dedup.simhash(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some(s"""WITH $simhashSigsSql
              |SELECT doc_id, simhash FROM sigs ORDER BY doc_id""".stripMargin)),

    QueryDef.headline("dedup_simhash_pairs",
      // chunk-LSH with maxDist+1 chunks is EXACT by pigeonhole, so the
      // oracle's all-pairs hamming join over recomputed signatures must
      // match row-for-row
      (s, dir) => Dedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
          maxDist = 3)
        .orderBy("id_a", "id_b"),
      Some(s"""WITH $simhashSigsSql
              |SELECT id_a, id_b, hamming FROM (
              |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              |         CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
              |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id)
              |WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin)),

    QueryDef("dedup_simhash_groups",
      // the clique-safe simhash contract: one row per distinct signature
      // (min id survives, multiplicity counted) — the pair form's output
      // is quadratic per exact-dup clique by definition; this is the form
      // a 100 TB dedup actually materializes. Oracle recomputes every
      // signature and the grouping from scratch
      (s, dir) => Dedup.simhashGroups(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("simhash"),
      Some(s"""WITH $simhashSigsSql
              |SELECT simhash, min(doc_id) AS keep_id, count(*) AS n_members
              |FROM sigs GROUP BY simhash ORDER BY simhash""".stripMargin)),

    QueryDef.headline("lsh_recall_report",
      // measured (not theoretical) LSH quality: candidate pairs from
      // md5-family MinHash banding vs exact inverted-index Jaccard pairs
      // at 0.8, as integer-permille recall/precision — the evaluation
      // that justifies a banding config before a 100 TB dedup run. The
      // oracle replays shingles, every signature minimum, the banding,
      // the exact pair set, and both ratios.
      (s, dir) => Dedup.lshRecallReport(Tables.documents(s, dir),
          "doc_id", "text", k = 3, numHashes = 8, bandRows = 2,
          threshold = 0.8),
      Some {
        val coeffs = Dedup.minhashCoeffs(8)
        val h32 = """list_reduce(list_transform(
          |      regexp_extract_all(substr(md5(s), 25, 8), '.'),
          |      c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), (a,b) -> a*16 + b)"""
          .stripMargin
        val perIdx = coeffs.zipWithIndex.map { case ((a, b), i) =>
          s"SELECT doc_id, $i AS hash_idx, min(($a * h + $b) % 2147483647) AS sig FROM h GROUP BY doc_id"
        }.mkString("\n  UNION ALL ")
        s"""WITH sh AS MATERIALIZED (
           |  SELECT doc_id, unnest($ShinglesSql) AS sh FROM documents),
           |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           |ip AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           |  FROM sh a JOIN sh b USING (sh) WHERE a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |ex AS MATERIALIZED (
           |  SELECT id_a, id_b FROM ip
           |  JOIN sizes sa ON sa.doc_id = id_a
           |  JOIN sizes sb ON sb.doc_id = id_b
           |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.8),
           |h AS MATERIALIZED (
           |  SELECT doc_id, ($h32 % 2147483647) AS h
           |  FROM (SELECT doc_id, sh AS s FROM sh)),
           |sig AS (SELECT doc_id, hash_idx, sig FROM (
           |  $perIdx)),
           |band AS MATERIALIZED (
           |  SELECT doc_id, hash_idx // 2 AS band,
           |    max(CASE WHEN hash_idx % 2 = 0 THEN sig END) AS s0,
           |    max(CASE WHEN hash_idx % 2 = 1 THEN sig END) AS s1
           |  FROM sig GROUP BY doc_id, hash_idx // 2),
           |cand AS MATERIALIZED (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM band a JOIN band b
           |    ON a.band = b.band AND a.s0 = b.s0 AND a.s1 = b.s1
           |  WHERE a.doc_id < b.doc_id),
           |tp AS (SELECT c.id_a, c.id_b FROM cand c
           |       JOIN ex ON ex.id_a = c.id_a AND ex.id_b = c.id_b),
           |cnt AS (SELECT
           |  (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_exact,
           |  (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_candidates,
           |  (SELECT CAST(count(*) AS BIGINT) FROM tp) AS n_true_pos)
           |SELECT n_exact, n_candidates, n_true_pos,
           |  CAST(CASE WHEN n_exact = 0 THEN 0
           |       ELSE n_true_pos * 1000 // n_exact END AS BIGINT)
           |    AS recall_permille,
           |  CAST(CASE WHEN n_candidates = 0 THEN 0
           |       ELSE n_true_pos * 1000 // n_candidates END AS BIGINT)
           |    AS precision_permille
           |FROM cnt""".stripMargin
      }),

    QueryDef.headline("dedup_soft_weights",
      // loss-free dedup: every copy keeps weight 1/cluster_size ppm so a
      // duplicate cluster contributes one effective training copy while
      // provenance survives — one content-hash exchange, the count rides
      // a partitioned window over it
      (s, dir) => graft.functions.Dedup.softWeights(
          Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  CAST(count(*) OVER (PARTITION BY md5(text)) AS BIGINT)
             |    AS cluster_size,
             |  CAST(1000000 // (count(*) OVER (PARTITION BY md5(text)))
             |    AS BIGINT) AS weight_ppm
             |FROM documents ORDER BY doc_id""".stripMargin)))
}
