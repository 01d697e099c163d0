package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed suffix-array construction by prefix doubling (the
  * Manber–Myers scheme, the structure behind exact-substring dedup in
  * Lee et al. 2022's `deduplicate-text-datasets`): every (doc, pos)
  * suffix of the token stream gets its GLOBAL dense lexicographic rank,
  * in O(log maxLCP) rounds of pure relational work — each round one
  * per-document lead-window (shift by k: positions are contiguous, so
  * k positions = k rows) plus one in-place range ranking. No full
  * suffix string is ever materialized; ranks seed from seedK-token
  * capped prefixes and refine by doubling until a fixed point.
  *
  * Ordering contract: suffixes compare as token SEQUENCES. INPUT
  * PRECONDITION (clean tokens): no token may contain a character below
  * 0x20 — under that precondition token-sequence order equals
  * space-joined string order (' ' sorts below every remaining token
  * character), which is what lets the DuckDB oracle verify ranks with
  * one `dense_rank() OVER (ORDER BY suffix_string)`. A raw crawl with
  * embedded tabs/control characters must normalize them out first (the
  * `text_normalize_nfc` / whitespace-cleaning stage that precedes
  * tokenization in every reference pipeline); a token like "ab\t" would
  * otherwise sort after "ab" token-wise but before it in joined-string
  * order, silently diverging from the string oracle. A suffix that
  * is a proper prefix of another ranks first (missing rank at pos+k is
  * the sentinel 0, below every real rank). EQUAL suffixes (exact-dup
  * documents) share a rank forever — dense_rank semantics — so the loop
  * terminates on rank-refinement fixed point, not on all-distinct.
  *
  * Scale shape: no global window anywhere. Global dense ranks are
  * assigned by range-partitioning the FRAME ITSELF (equal keys share a
  * partition by range-partitioner contract), collecting ONE distinct-
  * count long per partition (bounded driver metadata), and dense-
  * ranking within partitions under a partition-local window — the same
  * bucket-offset discipline as `Packing.concatBlocks`, fused so no
  * separate distinct pass or rank join-back ever re-shuffles the frame.
  * Per round: exactly TWO n-row exchanges — the per-doc lead window
  * (hash on doc) and the key range exchange; rounds are bounded by
  * log2(longest repeated prefix / seedK), and each round's
  * frame is eagerly checkpointed with the previous round's blocks
  * released immediately (rolling single-checkpoint memory footprint);
  * each round's range-partitioned frame is likewise released as soon
  * as that round's checkpoint lands. Round checkpoints go through
  * [[Checkpoints.eager]]: executor-local by default, RELIABLE (DFS
  * files, fault-tolerant) when `spark.graft.checkpointDir` is set — the
  * 100-TB seat, where an hours-long build must survive executor loss.
  *
  * SHARED BUILD: the array is built once ([[suffixRanks]]) and every
  * derived analysis — duplicated-span census ([[suffixDupSpansFrom]]),
  * adjacent-rank repeat census ([[suffixRepeatsFrom]]), span REMOVAL
  * ([[suffixSpansRemoveFrom]]) — consumes the same (id, pos,
  * suffix_rank) frame, exactly the Lee et al. pipeline shape (one SA,
  * many passes). The df-taking census and repeat forms rebuild the
  * array internally and exist for one-shot use; the one-shot REMOVAL
  * form ([[suffixSpansRemove]]) builds no array at all — removal needs
  * only "is this minRun-window repeated", which one gram-keyed exchange
  * answers exactly (see there).
  */
object SuffixArray {

  /** Dense 1-based global ranks of `keyCols` assigned IN PLACE on the
    * full frame (no distinct pass, no rank join-back — round-11 verdict
    * #4's fusion: the distinct + join-back pair re-shuffled the whole
    * frame twice on the same keys this single range exchange already
    * orders), with no global window: range-partition the frame itself
    * (equal keys land in one partition by range-partitioner contract),
    * per-partition DISTINCT-key counts to the driver (numPartitions
    * longs), offsets + partition-local dense_rank. The returned frame
    * must be consumed while the returned `parted` handle stays persisted
    * (range boundaries are sampled; the persist pins them) — the caller
    * unpersists it as soon as its round's checkpoint lands. */
  private def denseRanksInline(frame: DataFrame, keyCols: Seq[String],
      nParts: Int): (DataFrame, Long, DataFrame) =
    denseRanksInlineCounted(frame, keyCols, nParts) match {
      case (df, nDistinct, _, parted) => (df, nDistinct, parted)
    }

  /** [[denseRanksInline]] also returning the frame's ROW count — read off
    * the same per-partition collect, so emptiness/size checks cost no
    * extra job. (The incremental merge loop uses the cheaper
    * [[rankedInlineRows]] since round 13 — this counted form remains the
    * builder's, whose fixed-point test needs the DISTINCT total.) */
  private def denseRanksInlineCounted(frame: DataFrame, keyCols: Seq[String],
      nParts: Int): (DataFrame, Long, Long, DataFrame) = {
    val parted = frame
      .repartitionByRange(nParts, keyCols.map(col): _*)
      .withColumn("_pid", spark_partition_id())
      .persist()
    val counts = parted.groupBy("_pid")
      .agg(countDistinct(keyCols.head, keyCols.tail: _*).as("_c"),
        count(lit(1)).as("_r"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val offs = (0 until nParts).scanLeft(0L) { (acc, p) =>
      acc + counts.get(p).map(_._1).getOrElse(0L)
    }.dropRight(1)
    val offExpr = element_at(array(offs.map(lit): _*), col("_pid") + 1)
    val w = Window.partitionBy("_pid").orderBy(keyCols.map(col): _*)
    // the partial-count collect doubles as the distinct total, so the
    // fixed-point check costs no extra pass over the rank frame
    (parted.withColumn("_rank",
      dense_rank().over(w).cast("long") + offExpr),
      counts.values.map(_._1).sum, counts.values.map(_._2).sum, parted)
  }

  /** Order-consistent, tie-equal — but NOT dense — global numbering: the
    * incremental merge's cheaper sibling of [[denseRanksInlineCounted]].
    * rank() with per-partition ROW-count offsets skips the per-partition
    * countDistinct pass entirely (a full string-keyed hash aggregation
    * when the keys are prefix segments — pure waste in the merge loop,
    * which never needs density: group keys, path elements, and the
    * running-count _nor only need order + tie-equality, and the OUTPUT's
    * density comes from the insertion arithmetic, not loop ranks).
    * `extraAggs` ride the same per-partition stats job (round 1 of the
    * merge reads its old-row counts/max-rank off it — one collect, not
    * two passes over the pinned frame). Returns (ranked frame, row
    * count, the pinned range frame, the per-pid stat rows:
    * [_pid, count, extraAggs...]). */
  private def rankedInlineRows(frame: DataFrame, keyCols: Seq[String],
      nParts: Int, extraAggs: Seq[Column] = Nil,
      persistSrc: Boolean = true)
      : (DataFrame, Long, DataFrame, Array[org.apache.spark.sql.Row]) = {
    // the range partitioner SAMPLES its child before exchanging it, so
    // an unpersisted input evaluates twice (sample + exchange) — for the
    // merge loop that is the round's whole join/explode chain. Cache it
    // for the pair of passes, release once the exchange has landed.
    // (`persistSrc = false` for inputs already backed by checkpoint
    // blocks, where the cache write costs more than the re-scan.)
    val src = if (persistSrc) frame.persist() else frame
    val parted = src.repartitionByRange(nParts, keyCols.map(col): _*)
      .withColumn("_pid", spark_partition_id()).persist()
    val statRows = parted.groupBy("_pid")
      .agg(count(lit(1)).as("_r"), extraAggs: _*).collect()
    if (persistSrc) src.unpersist(blocking = false)
    val counts = statRows.map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offs = (0 until nParts).scanLeft(0L) { (acc, p) =>
      acc + counts.getOrElse(p, 0L)
    }.dropRight(1)
    val offExpr = element_at(array(offs.map(lit): _*), col("_pid") + 1)
    val w = Window.partitionBy("_pid").orderBy(keyCols.map(col): _*)
    (parted.withColumn("_rank", rank().over(w).cast("long") + offExpr),
      counts.values.sum, parted, statRows)
  }

  /** Cross-partition suffix-minimum stitch for a range-partitioned frame
    * carrying `_pid`: returns the expression "min of `valueCol` over all
    * partitions AFTER mine" — nParts longs collected to the driver (the
    * bounded-metadata discipline of [[denseRanksInline]]'s offsets),
    * re-entered as an array literal. Combined with a partition-local
    * reverse-running-min window this yields exact "min over all FOLLOWING
    * rows" with no global window and no extra exchange. `default` fills
    * partitions with nothing after them (and null-only tails). */
  private def tailMinExpr(parted: DataFrame, valueCol: String,
      nParts: Int, default: Long): Column = {
    val mins = parted.filter(col(valueCol).isNotNull).groupBy("_pid")
      .agg(min(col(valueCol)).as("_m"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val tails = (0 until nParts).map { p =>
      ((p + 1) until nParts).flatMap(mins.get)
        .reduceOption(_ min _).getOrElse(default)
    }
    element_at(array(tails.map(lit): _*), col("_pid") + 1)
  }

  /** One eagerly-materialized checkpoint per round, releasing the
    * previous round's blocks as soon as the new one lands. The FINAL
    * checkpoint is never released here — the returned frame is built on
    * it (lineage is severed, it could not recompute). Checkpoints are
    * local or reliable per [[Checkpoints.eager]]; releasing a reliable
    * round is a no-op on its files (see there). */
  private final class RollingCheckpoint {
    private var prev: Option[org.apache.spark.rdd.RDD[_]] = None
    def apply(df: DataFrame): DataFrame = {
      val out = Checkpoints.eager(df)
      val rdd = out.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }
      require(rdd.isDefined,
        "RollingCheckpoint: no LogicalRDD leaf — release tracking would leak")
      prev.foreach(_.unpersist(blocking = false))
      prev = rdd
      out
    }
  }

  /** Global dense lexicographic rank of every within-document token
    * suffix: (doc, pos 1-based, suffix_rank). See object doc.
    *
    * IDENTICAL-CONTENT CLIQUE COLLAPSE (the round-10 winnow discipline):
    * exact-duplicate documents contribute token-identical suffix SETS
    * whose ranks tie at every position, so the doubling loop runs over
    * one representative per DISTINCT text (md5 content groups) and the
    * final (doc, pos, rank) rows come from one members expansion join.
    * Output is row-identical — dense ranks ignore multiplicity — and on
    * a pre-dedup crawl (the corpus this operator exists for) every
    * per-round shuffle shrinks by the duplication factor. */
  def suffixRanks(df: DataFrame, idCol: String, textCol: String,
      nParts: Int = 32, maxRounds: Int = 64, seedK: Int = 8): DataFrame = {
    require(seedK >= 1, "seedK >= 1")
    val pinned = ArrayBuffer.empty[DataFrame]
    val ckpt = new RollingCheckpoint
    try {
      // group key is unhex(md5) BINARY(16), not the 32-char hex STRING
      // (round 18, guide §2.3 — shuffle fewer bytes): the key rides TWO
      // exchanges per doubling round (the per-doc window hash and the
      // range exchange) plus the members expansion; binary halves its
      // footprint with identical equality semantics (only grouping/join
      // equality is ever used on _g).
      val g = df.select(col(idCol).as("_doc"),
        unhex(md5(col(textCol))).as("_g"), col(textCol).as("_t"))
      val members = g.select("_doc", "_g").persist()
      pinned += members
      // min() is exact (all texts under a key are equal) and partial-
      // aggregates, so each distinct text shuffles ~once per partition
      val reps = g.groupBy(col("_g")).agg(min(col("_t")).as("_t"))
      // SEEDED round 0 (round-11 verdict #4): rank the seedK-token capped
      // prefix at each position instead of the single token, entering the
      // doubling loop at k = seedK — log2(seedK) fewer global (shift-join
      // + key-rank) rounds, the dominant cost. The prefix key is the
      // SPACE-JOINED string: under the object's clean-token INPUT
      // PRECONDITION (no chars below 0x20 — which the DuckDB string
      // oracle already required) joined-string order EQUALS token-
      // sequence order, and a suffix shorter than seedK yields its whole
      // suffix as the key, so equal keys of sub-seedK suffixes are truly
      // equal suffixes (ranks tie forever — correct) while equal
      // seedK-length keys refine in later rounds. Trade, stated: the
      // exploded round-0 frame carries ~seedK tokens per position
      // (bounded ~seedK x corpus bytes for one round) instead of one.
      //
      // Two persist barriers around the Generate (the cdc_chunks lesson,
      // SCALING.md round-10): materializing (_g, _tk) / (_g, _prefs)
      // keeps projection collapse from inlining split() into the slice
      // lambda (no CSE in interpreted HOFs — O(n^2) re-splits) and keeps
      // InferFiltersFromGenerate's size() filter a cheap attribute check.
      val repsTk = reps
        .select(col("_g"), split(col("_t"), " ").as("_tk")).persist()
      pinned += repsTk
      // DEPTH-BOUND TERMINATION (round 18): after a round with shift k the
      // ranks are dense ranks of depth-2k prefixes; once that depth covers
      // the longest representative text, every "prefix" IS the whole
      // suffix, so the ranks are final — the loop's count-based fixed
      // point would spend one more FULL round (two n-row exchanges + a
      // collect) only to observe nd == nDistinct. The bound is one narrow
      // aggregate over the (persisted, distinct-text-sized) token frame;
      // the same job reads the TOTAL position count for the width sizing
      // below, and materializes the cache the prefix build reads.
      val statRow = repsTk.agg(max(size(col("_tk"))),
        sum(size(col("_tk")).cast("long"))).head()
      val maxLen = if (statRow.isNullAt(0)) 0L else statRow.getInt(0).toLong
      val totalPos = if (statRow.isNullAt(1)) 0L else statRow.getLong(1)
      // FULL-SUFFIX SEED FOR SHORT-TEXT CORPORA (round 18, guide §1.2
      // first-principles + §2.2): with seed depth s, round 0 ships
      // ~min(s, len-pos) tokens per position and the loop then runs
      // ceil(log2(maxLen/s)) rounds of TWO ~40 B/row exchanges plus
      // their fixed costs (range-sampler job, counts collect, checkpoint
      // job, AQE stages — measured 51 serial jobs and ~10 jobs/round at
      // sf0.1, where the suite pair suffix_ranks/_incremental is the #1
      // cost). Seeding with s = maxLen makes every round-0 key the WHOLE
      // suffix — dense ranks are FINAL and the loop never runs. Byte
      // napkin (avgLen ~ maxLen/2, ~6 B/token): full seed ships
      // ~3*maxLen B/position once; doubling ships ~80 B/position per
      // round — the crossover sits near maxLen ~ 128, so the full seed
      // engages exactly for short-text corpora (sentences, titles,
      // capped-token fixtures) where it is byte-neutral AND removes
      // every global barrier; long-document corpora keep the doubling
      // loop, whose per-round bytes stay bounded regardless of maxLen.
      // Correctness is the existing sub-seedK argument: equal full-
      // suffix keys are genuinely equal suffixes and tie forever.
      val seedEff = if (maxLen > 0 && maxLen <= 128) maxLen.toInt
        else seedK
      val prefs = repsTk
        .select(col("_g"),
          transform(sequence(lit(1), size(col("_tk"))),
            p => concat_ws(" ", slice(col("_tk"), p, lit(seedEff)))).as("_prefs"))
        .persist()
      pinned += prefs
      val suff = prefs
        .select(col("_g"), posexplode(col("_prefs")).as(Seq("_p0", "_pref")))
        .select(col("_g"), (col("_p0") + 1).as("_pos"), col("_pref"))
      // SCALE-ADAPTIVE RANGE WIDTH (round 18, guide §2.2 + the brief's
      // "derive from input size, not a local constant"): nParts = 32 made
      // every range exchange a fixed 32 reduce tasks even for a few
      // hundred thousand rows — per-task fixed costs (codegen, sched,
      // deser) dominated the doubling rounds at bench scale. Target ~1M
      // positions (~50 MB of (bin16, long, long, long) rows) per range
      // partition, capped at the caller's nParts; a 100 TB corpus saturates
      // the cap (pass a bigger nParts there), a small one stops paying
      // 32x task overhead per round. AQE cannot coalesce an explicit
      // repartitionByRange width, hence the explicit derivation.
      val nPartsEff = math.max(1,
        math.min(nParts.toLong, (totalPos + 65535L) / 65536L)).toInt
      // round 0: dense ranks assigned in place on the range exchange
      val (ranked0, nPref, parted0) = denseRanksInline(suff,
        Seq("_pref"), nPartsEff)
      // Per-round eager checkpoint kept deliberately (round 18 measured
      // the alternative): building each round on the previous round's
      // CACHED range frame instead of a checkpoint leaves the full nested
      // plan in every task binary — task deserialization went 2.2 s ->
      // 22.7 s per pass at sf0.1 and the suite entry ~3x'd. The ~60 ms
      // checkpoint job per round is what keeps task closures flat.
      var ranks = ckpt(ranked0.select(col("_g"), col("_pos"), col("_rank")))
      // round 0's checkpoint severed lineage: the range frame, the
      // prefix-array frame and the token frame are fully consumed —
      // release now instead of at loop end (rolling footprint)
      parted0.unpersist(blocking = false)
      prefs.unpersist(blocking = false)
      repsTk.unpersist(blocking = false)
      var nDistinct = nPref
      var k = seedEff.toLong
      var round = 0
      var fixed = false
      while (!fixed && round < maxRounds && k < maxLen) {
        round += 1
        // rank of the suffix k positions later (0 = past end): positions
        // are CONTIGUOUS 1..len per doc (posexplode of every token), so
        // "k positions later" is "k ROWS later" under one per-document
        // window — a single hash exchange on _g, replacing the former
        // (_g, _pos) equi-self-join's two. Per-doc window, partition-
        // local sort, group size = the doc's token count (bounded; one
        // rep per distinct text by the clique collapse above).
        //
        // PERSISTED before the range exchange (round 18, guide §1.2 —
        // don't compute the same pass twice): the range partitioner
        // SAMPLES its child before exchanging it, so an unpersisted
        // `shifted` would evaluate this whole window+lead chain twice per
        // round — the same double-evaluation rankedInlineRows already
        // guards against in the merge loop. Released as soon as the
        // round's range frame lands (both its consumers ran by then).
        val wDoc = Window.partitionBy("_g").orderBy("_pos")
        val shifted = ranks.select(col("_g"), col("_pos"),
          col("_rank").as("_r1"),
          coalesce(lead(col("_rank"),
              k.min(Int.MaxValue.toLong).toInt).over(wDoc),
            lit(0L)).as("_r2")).persist()
        val (ranked, nd, parted) = denseRanksInline(shifted,
          Seq("_r1", "_r2"), nPartsEff)
        // fixed point: the (r1, r2) partition equals the previous one, and
        // both numberings are dense in the same order — so the refined
        // ranks would reproduce the EXACT same values; skip the round
        fixed = nd == nDistinct
        if (df.sparkSession.conf.getOption("spark.graft.debugTiming")
            .contains("true"))
          System.err.println(s"[sa-build] round $round k=$k nd=$nd " +
            s"prev=$nDistinct fixed=$fixed maxLen=$maxLen")
        if (!fixed) {
          ranks = ckpt(ranked.select(col("_g"), col("_pos"), col("_rank")))
          nDistinct = nd
        }
        // this round's checkpoint landed (or the frame was never consumed,
        // on the fixed round) — release its range-partitioned frame and
        // the shifted cache (both consumers of each ran inside
        // denseRanksInline / the checkpoint job); memory stays one
        // checkpoint + one range frame + one shifted cache, rolling
        shifted.unpersist(blocking = false)
        parted.unpersist(blocking = false)
        k *= 2
      }
      // expand the distinct-text ranks to every member document. The
      // members frame unpersists in `finally` — persist never severs
      // lineage, so downstream actions recompute its narrow md5 scan
      ranks.join(members, Seq("_g"))
        .select(col("_doc").as(idCol), col("_pos").cast("int").as("pos"),
          col("_rank").as("suffix_rank"))
    } finally {
      // the final frame is a checkpoint — independent of every pinned
      // intermediate, so their blocks release here unconditionally
      pinned.foreach(_.unpersist(blocking = false))
    }
  }

  /** INCREMENTAL maintenance of a landed suffix array (round-11 verdict
    * #5): merge a delta batch into an existing [[suffixRanks]] build
    * WITHOUT re-running the doubling loop over the corpus — the
    * probe-new-against-persisted form every other index in the repo
    * (band index, dHash, IVF cells) already has, closing the daily-crawl
    * seat where a 100-TB SA would otherwise rebuild from scratch.
    * Output: exact (id, pos, suffix_rank) over oldDf ∪ newDf, EQUAL to a
    * full rebuild (the gate's oracle is exactly that rebuild).
    *
    * Shape: (1) delta docs whose text md5 already exists in the old
    * corpus copy their rows from an old member — zero comparisons, the
    * dominant crawl case. (2) Genuinely-new distinct texts explode to
    * suffixes and MERGE with one representative row per OLD RANK (equal-
    * rank old suffixes are identical, so the rep stands for the class):
    * one capped-prefix range ranking over (old ranks + new suffixes),
    * then groups still tied at the cap ESCALATE — the next
    * next segment is fetched (windows stay token-aligned because tied
    * rows share their compared prefix exactly) and the group re-ranks,
    * the compared span growing 4x per round. Only groups containing a
    * NEW row ever fetch more tokens ("affected rank neighborhoods");
    * pure-old subgroups that split off later order by their landed rank
    * (rank order IS content order) with no content fetched. Comparison
    * keys are space-joined segment strings under the object's
    * clean-token INPUT PRECONDITION; per-row rank paths (array<bigint>,
    * one order-consistent rank appended per round) compare
    * lexicographically across groups because refinement only reorders
    * within a group. (3) One final ranking over the AFFECTED frozen rows
    * only orders the new classes among their old anchors; the union's
    * dense ranks then come from insertion arithmetic — old ranks shift
    * by the count of new-only classes inserted before them, new-only
    * classes land at (next old rank − 1) + their own 1..N number — and
    * old documents map through the resulting offset table, new ones
    * through their text group's class.
    *
    * Cost at scale (round-14 form): ONE pass over the landed index +
    * delta (the round-1 range exchange — unavoidable: a merge must see
    * the index order once; the same pass computes, per row, the next old
    * rank after its group — a partition-local window stitched across
    * partitions by nParts driver longs). Everything after round 1 is
    * DELTA-NEIGHBORHOOD-sized: pure-old round-1 groups are DROPPED —
    * their relative order IS the landed rank, so they never checkpoint
    * and never enter the final ranking (the round-12 form pushed every
    * index row through a union-sized checkpoint AND a union-sized final
    * range exchange — the two fixed passes that kept the merge ~flat at
    * ~2x the rebuild). Escalation fetches a group's whole remaining
    * need in one round when that is within a bounded (16x) overshoot of
    * the geometric fetch, so doc-bounded suffixes resolve in exactly TWO
    * ranked passes — the merge's round count no longer grows with
    * log(maxLCP) on real corpora; the geometric 3x fetch survives as
    * the fallback that keeps per-round bytes bounded when one long
    * group member would force a large over-fetch. Final ranks come from
    * the insertion arithmetic: new_rank(old class r) = r + ins(r),
    * where ins = #new-only classes ordered before r — a step function
    * with one jump per new class, expanded to the (old rank -> offset)
    * table by a chunked narrow generate (no exchange); old rows AND the
    * delta's dup-of-old copies (selected by probing the index with the
    * delta-doc-sized pair table, never exchanging it) shift through
    * that table in ONE output-sized join — the artifact itself. Driver
    * jobs are kept off the merge's critical path: round-1 rank stats
    * ride the ranking job's own per-partition collect, the dup-copy
    * probe placement overlaps the class-table stitches on a second
    * thread, and the class/jump/mapping frames are registered lazy
    * persists that materialize inside the output job instead of one
    * standalone checkpoint job each. A full rebuild instead pays
    * O(log maxLCP) rounds of two corpus-position-sized exchanges. */
  def suffixRanksIncremental(ranks: DataFrame, oldDf: DataFrame,
      newDf: DataFrame, idCol: String, textCol: String,
      nParts: Int = 32, seedK: Int = 8, maxRounds: Int = 64): DataFrame =
    // drop the sidecar's seedK stamp: the wrapper just built it with the
    // caller's own seedK, and validating it in the From form would run
    // the whole (unpersisted) sidecar pipeline once just to read back
    // the constant it passed in
    suffixRanksIncrementalFrom(suffixMergeReps(ranks, oldDf, idCol,
      textCol, seedK).drop("_seedk"), ranks, oldDf, newDf, idCol, textCol,
      nParts, seedK, maxRounds)

  /** Driver-side refinement of the affected neighborhood (the
    * delta-local seat of [[suffixRanksIncremental]] — engaged only when
    * round 1's own observation measured the neighborhood driver-sized).
    *
    * Inputs: the round-1 landed checkpoint's affected rows
    * (_new, _or, _src, _pos, _kr, _nor, _esc) and the escalator
    * sources' full texts as UTF-8 bytes. Semantics are EXACTLY the
    * distributed rounds' — proven equal by the same full-rebuild
    * oracles that pin those:
    *   - groups = equal round-1 rank (_kr); escalated groups order
    *     members by the remaining suffix, compared as UTF-8 bytes of
    *     the space-joined token stream from `pos` (Spark's UTF8String
    *     binary order, NOT java.lang.String UTF-16 order — the same
    *     divergence the probe seat's boundary table documents);
    *     equal-byte runs are one CLASS. Non-escalated groups froze as
    *     full ties: one class, no content needed.
    *   - an anchored class (holds an old rep — at most one: landed
    *     ranks are dense over distinct suffixes) final-ranks at
    *     _or + ins(_or); a new-only class numbered i (1..N in global
    *     affected order) at (t - 1) + i where t is the next anchor
    *     after it in its group, else the group's _nor — and
    *     ins(r) = max i over insertion points t <= r, the same step
    *     function the distributed jump table encodes.
    *
    * Returns (fresh-row ranks (g, pos, rank), jump rows (t, ins, tn))
    * — both driver-sized by the engagement budget; the corpus-sized
    * rank shift still runs distributed off the jump table. */
  private def resolveDeltaLocal(aRows: Array[org.apache.spark.sql.Row],
      texts: Map[String, Array[Byte]], rMax: Long)
      : (Seq[(String, Long, Long)], Seq[(Long, Long, Long)]) = {
    // token start offsets per source, derived once: text IS the
    // space-joined token stream (split/join are lossless), so token k
    // (1-based) starts after the (k-1)th 0x20 byte — multi-byte UTF-8
    // never contains 0x20 in a continuation byte
    val offsets = new java.util.HashMap[String, Array[Int]]()
    def offsetsOf(src: String): Array[Int] = {
      var o = offsets.get(src)
      if (o == null) {
        val b = texts(src)
        val buf = ArrayBuffer(0)
        var i = 0
        while (i < b.length) {
          if (b(i) == 0x20) buf += i + 1
          i += 1
        }
        o = buf.toArray
        offsets.put(src, o)
      }
      o
    }
    // member rows carry their suffix's (bytes, start offset) RESOLVED
    // ONCE — comparisons then go through the JDK's vectorized
    // Arrays.compareUnsigned intrinsic (unsigned lexicographic with
    // shorter-prefix-first, exactly UTF8String order); the per-byte
    // Scala loop this replaces cost ~2 s at the 37k-row gate shape
    // (groups share long common prefixes, so comparisons walk deep)
    final case class R(isNew: Boolean, or: Long, src: String, pos: Long,
      b: Array[Byte], off: Int)
    def cmpR(x: R, y: R): Int =
      java.util.Arrays.compareUnsigned(x.b, x.off, x.b.length,
        y.b, y.off, y.b.length)
    val emptyBytes = Array.emptyByteArray
    // groups keyed by round-1 rank, ascending = index order; suffix
    // bytes resolved only for ESCALATED groups (frozen groups never
    // compare content — some of their sources were never collected)
    val groups = aRows.map { r =>
      val esc = r.getBoolean(6)
      val src = r.getString(2)
      val (b, off) =
        if (esc) {
          val bb = texts(src)
          (bb, offsetsOf(src)(r.getLong(3).toInt - 1))
        } else (emptyBytes, 0)
      (r.getLong(4), r.getLong(5), // _kr, _nor
        R(r.getInt(0) == 1, if (r.isNullAt(1)) -1L else r.getLong(1),
          src, r.getLong(3), b, off),
        esc)
    }.groupBy(_._1).toArray.sortBy(_._1)
    var i = 0L // new-only class counter, global affected order
    val jumpAt = new java.util.TreeMap[java.lang.Long, java.lang.Long]()
    val newOnly = ArrayBuffer.empty[(String, Long, Long)] // g, pos, fr
    val anchPend = ArrayBuffer.empty[(String, Long, Long)] // g, pos, _or
    for ((_, grp) <- groups) {
      val esc = grp.head._4
      val nor = grp.head._2
      val members = grp.map(_._3)
      val classes: Array[Array[R]] =
        if (!esc) Array(members) // froze as a full tie: one class
        else {
          val s = members.sortWith(cmpR(_, _) < 0)
          val out = ArrayBuffer.empty[Array[R]]
          var lo = 0
          var e = 1
          while (e <= s.length) {
            if (e == s.length || cmpR(s(lo), s(e)) != 0) {
              out += s.slice(lo, e)
              lo = e
            }
            e += 1
          }
          out.toArray
        }
      val anchors = classes.map(_.find(_.or >= 0L).map(_.or))
      // next anchor STRICTLY after each class in group order, else _nor
      // (an anchor outside the group always ranks >= _nor)
      val nexts = new Array[Long](classes.length)
      var nx = nor
      var ci = classes.length - 1
      while (ci >= 0) {
        nexts(ci) = nx
        anchors(ci).foreach(a => nx = a)
        ci -= 1
      }
      ci = 0
      while (ci < classes.length) {
        anchors(ci) match {
          case Some(a) =>
            classes(ci).foreach(m =>
              if (m.isNew) anchPend += ((m.src.substring(2), m.pos, a)))
          case None =>
            i += 1
            val t = nexts(ci)
            jumpAt.put(t, i) // i strictly increases: overwrite == max
            val fr = t - 1L + i
            classes(ci).foreach(m =>
              newOnly += ((m.src.substring(2), m.pos, fr)))
        }
        ci += 1
      }
    }
    def ins(r: Long): Long = {
      val e = jumpAt.floorEntry(r)
      if (e == null) 0L else e.getValue
    }
    val anchOut = anchPend.map { case (g, p, a) => (g, p, a + ins(a)) }
    // indexed, not Seq: positional next-t lookup over ~#classes entries
    // (a linear Seq here was O(n^2) — ~2 s at the 37k-row gate shape)
    val ts = {
      import scala.jdk.CollectionConverters._
      jumpAt.entrySet().asScala.iterator.map(e =>
        (e.getKey.longValue, e.getValue.longValue)).toArray
    }
    val jumps = ts.iterator.zipWithIndex.map { case ((t, mi), k) =>
      (t, mi, if (k + 1 < ts.length) ts(k + 1)._1 else rMax + 1L)
    }.toSeq
    ((newOnly ++ anchOut).toSeq, jumps)
  }

  /** The MERGE SIDECAR of a landed suffix array: one row per rank with
    * its representative (doc, pos), suffix token length, and seedK-token
    * joined prefix — everything round 1 of [[suffixRanksIncremental]]
    * needs, derived in one pass at build time and landed next to the SA
    * (the [[rankMaxLcp]]-stats discipline: SA + LCP + merge-reps are the
    * production artifact triple). The delta merge then never aggregates
    * the index or re-tokenizes the corpus for round 1. */
  def suffixMergeReps(ranks: DataFrame, df: DataFrame, idCol: String,
      textCol: String, seedK: Int = 8): DataFrame = {
    val reps = ranks.groupBy(col("suffix_rank"))
      .agg(min(struct(col(idCol), col("pos"))).as("_m"))
      .select(col("suffix_rank").as("_or"),
        col("_m").getField(idCol).as("_doc"), col("_m.pos").as("_pos"))
    val toks = df.select(col(idCol).as("_doc"),
      split(col(textCol), " ").as("_tk"))
    reps.join(toks, Seq("_doc"))
      .select(col("_or"), col("_doc"),
        col("_pos").cast("long").as("_pos"),
        (size(col("_tk")) - col("_pos") + 1).cast("long").as("_slen"),
        concat_ws(" ", slice(col("_tk"), col("_pos").cast("int"),
          lit(seedK))).as("_seg"),
        // the sidecar CARRIES its seedK (a constant column): the merge's
        // round-1 grouping is only correct when old `_seg` and new-row
        // prefixes were cut at the SAME cap, and a silent mismatch would
        // produce wrong ranks, not an error — so the consumer validates
        // against this instead of trusting the caller's default to match
        lit(seedK).as("_seedk"))
  }

  /** [[suffixRanksIncremental]] over a PRELANDED [[suffixMergeReps]]
    * sidecar — the timed production shape: the index side of round 1 is
    * a plain scan of the sidecar. `seedK` must match the sidecar's. */
  def suffixRanksIncrementalFrom(mergeReps: DataFrame, ranks: DataFrame,
      oldDf: DataFrame, newDf: DataFrame, idCol: String, textCol: String,
      nParts: Int = 32, seedK: Int = 8, maxRounds: Int = 64): DataFrame = {
    require(seedK >= 1, "seedK >= 1")
    // sidecar seedK validation (the sidecar carries it since round 13):
    // a cap mismatch between old `_seg` and new-row prefixes would put
    // equal suffixes in different round-1 groups — wrong output, no
    // error — so fail loudly instead. Since round 15 the check rides the
    // rMax aggregate (ONE sidecar scan on a SECOND DRIVER THREAD,
    // overlapping the delta measurement below, instead of a head(1) job
    // + an agg job in series); older sidecars without the column skip it.
    val hasSeedCol = mergeReps.columns.contains("_seedk")
    val reps0 = if (hasSeedCol) mergeReps.drop("_seedk") else mergeReps
    val sidecarStatsF = scala.concurrent.Future {
      val aggs = max(col("_or")).as("_m") +:
        (if (hasSeedCol)
          Seq(min(col("_seedk")).as("_klo"), max(col("_seedk")).as("_khi"))
        else Nil)
      mergeReps.agg(aggs.head, aggs.tail: _*).head()
    }(scala.concurrent.ExecutionContext.global)
    val pinned = ArrayBuffer.empty[DataFrame]
    // frozen rounds checkpoint once each and stay live to the final
    // ranking — AFFECTED rows only (round-1 groups containing a new
    // row), so the held total is delta-neighborhood-sized
    val frozenParts = ArrayBuffer.empty[DataFrame]
    try {
      val oldG = oldDf.select(col(idCol).as("_doc"),
        md5(col(textCol)).as("_g"), col(textCol).as("_t"))
      val newG = newDf.select(col(idCol).as("_doc"),
        md5(col(textCol)).as("_g"), col(textCol).as("_t"))
      // the returned frame reads newMembers / the dup anchors lazily —
      // REGISTERED persist (not the loop-internal `pinned` set, which
      // the `finally` sweeps before the caller evaluates): the frame
      // stays cached across its two output consumers, lineage stays
      // recomputable, and no standalone materialization job runs
      // (round 14 — the eager-checkpoint form paid one job per frame)
      val newMembers = Caches.operatorPersist(newG.select("_doc", "_g"))
      // adaptive probe-side placement: a DELTA-sized key frame joining
      // the corpus broadcasts when small (the overwhelmingly common
      // crawl case — the corpus side then never exchanges, only scans),
      // and falls back to a shuffle-hash join when the delta is itself
      // corpus-scale. BYTE-gated (round-14): the old 4M-ROW gate let a
      // frame of 32-char md5 keys (~500 MB as a HashedRelation,
      // replicated per executor) through; instead measure the exact key
      // bytes (one sum over the already-persisted frame) plus ~48 B/row
      // of UTF8String + hash-entry overhead, and broadcast only under an
      // explicit 128 MB budget — far inside an 8 GB driver heap, and the
      // shuffle-hash fallback engages where replication would hurt.
      val probeBudgetBytes = 128L << 20
      // row count and key bytes come out of ONE agg job (round 14: the
      // split count-then-sum form paid a second pass per probe site)
      def probeSide(keys: DataFrame): DataFrame = {
        val keyCol = keys.columns.head
        val r = keys.agg(count(lit(1)).as("_n"), coalesce(
            sum(length(col(keyCol)).cast("long")), lit(0L)).as("_b"))
          .head()
        val (n, keyBytes) = (r.getLong(0), r.getLong(1))
        if (keyBytes + n * 48L <= probeBudgetBytes) broadcast(keys)
        else keys.hint("shuffle_hash")
      }
      val newKeys = newG.groupBy(col("_g")).agg(min(col("_t")).as("_t"))
        .persist()
      pinned += newKeys
      // ONE (rows, text bytes) measurement of the distinct delta drives
      // every delta-derived placement below — the md5-key probe (keys
      // are exactly 32 chars), the prefix-frame probes (seg payload is
      // bounded by ~seedK x the text bytes: each token lands in at most
      // seedK prefixes), and the round-1 path choice (estimated suffix
      // rows ~ text bytes / 6 B per token). The former form re-measured
      // each probe frame with its own agg job — at gate scale those
      // serial driver jobs were the merge's bill, not the data.
      val kRow = newKeys.agg(count(lit(1)).as("_n"), coalesce(
          sum(length(col("_t")).cast("long")), lit(0L)).as("_b")).head()
      val (nTexts, textBytes) = (kRow.getLong(0), kRow.getLong(1))
      def estProbe(estBytes: Long)(df: DataFrame): DataFrame =
        if (estBytes <= probeBudgetBytes) broadcast(df)
        else df.hint("shuffle_hash")
      val keysProbe = estProbe(nTexts * 80L) _
      val segProbe = estProbe(textBytes * (seedK + 9L)) _
      // ONE corpus pass serves both md5 fast-path consumers: the old
      // anchor per duplicated delta text (dupOut) and the fresh-text
      // anti-join — the corpus is SCANNED and probed against the
      // broadcast delta keys, never exchanged (the round-12 form paid
      // two corpus-sized exchanges here: a distinct for the anti-join
      // and a groupBy for the dup anchors). Registered-persist, not an
      // eager checkpoint (round 14): every consumer materializes inside
      // an existing job (newFresh in round 1, dupOut at output), lineage
      // stays recomputable, and the standalone materialization job
      // disappears; the harness sweeps the registry per query.
      val oldDupDocs = Caches.operatorPersist(
        oldG.join(keysProbe(newKeys.select("_g")), Seq("_g"))
          .groupBy(col("_g")).agg(min(col("_doc")).as("_odoc")))
      // fresh = delta texts the old corpus has never seen
      val newFresh = newKeys
        .join(oldDupDocs.select("_g"), Seq("_g"), "left_anti")
        .persist()
      pinned += newFresh
      // token arrays for the sources an ESCALATING row can probe — built
      // once, AFTER round 1, restricted to round-1 escalators (groups
      // only refine, so later rounds' escalating sources are a subset):
      // the corpus tokenization pass is NEIGHBORHOOD-sized, not
      // corpus-sized, and a delta that resolves at the seedK prefix
      // never tokenizes anything. The escalator-source key set is
      // delta-neighborhood-sized, so it takes the adaptive probe side:
      // broadcast keeps the corpus text scan exchange-free.
      var tokTable: DataFrame = null
      def buildTokTable(escSrcs: DataFrame,
          estBytes: Option[Long]): DataFrame = {
        val esc = escSrcs.persist()
        pinned += esc
        // probe-side placement from the checkpoint job's OBSERVED
        // escalator byte sum (an upper bound on the distinct-src key
        // bytes) — no standalone measurement job; the measured
        // probeSide() form remains the fallback when the observation
        // was missed
        val escProbe = estBytes match {
          case Some(b) => estProbe(b)(esc)
          case None => probeSide(esc)
        }
        val t = oldG.select(concat(lit("d:"), col("_doc").cast("string"))
            .as("_src"), col("_t"))
          .join(escProbe, Seq("_src"))
          .select(col("_src"), split(col("_t"), " ").as("_tk"))
          .unionAll(newFresh
            .select(concat(lit("g:"), col("_g")).as("_src"), col("_t"))
            .join(escProbe, Seq("_src"))
            .select(col("_src"), split(col("_t"), " ").as("_tk")))
          .persist()
        pinned += t
        t
      }
      // fresh-text suffix rows (persist barrier before the Generate,
      // the cdc_chunks discipline)
      val freshTk = newFresh
        .select(col("_g"), split(col("_t"), " ").as("_tk")).persist()
      pinned += freshTk
      val newBase = freshTk
        .select(col("_g"), col("_tk"),
          explode(sequence(lit(1), size(col("_tk")))).as("_pos"))
        .select(lit(1).as("_new"), lit(null).cast("long").as("_or"),
          concat(lit("g:"), col("_g")).as("_src"),
          col("_pos").cast("long").as("_pos"),
          (size(col("_tk")) - col("_pos") + 1).cast("long").as("_slen"),
          array().cast("array<bigint>").as("_path"),
          lit(seedK.toLong).as("_cov"),
          concat_ws(" ", slice(col("_tk"), col("_pos"),
            lit(seedK))).as("_seg"))
      // ---- ADAPTIVE ROUND 1 (round 14). Two forms, chosen by the
      // index-to-delta ratio, sharing everything from the ranking on:
      //
      // UNION-RANK (index <= probeRatio x estimated delta suffix rows):
      // the whole sidecar enters the round-1 ranking. Right when the
      // index is small relative to the delta — one range exchange of
      // old+new is within a constant of ranking the delta alone, and it
      // needs the FEWEST driver jobs (at gate scale the merge is
      // job-latency-bound, not data-bound — measured).
      //
      // PROBE (index >> delta — the production maintenance regime: a
      // small crawl delta into a huge landed index): the index is never
      // ranked OR exchanged, only SCANNED. The sidecar is already in
      // landed-rank order, so round 1 needs exactly two things:
      //   (a) the old rows whose seedK prefix collides with a delta
      //       prefix — an EQUI-JOIN on _seg (index scanned once, probed
      //       against the adaptively-broadcast delta prefixes);
      //   (b) every delta prefix's insertion point among the landed
      //       ranks (_nor). Dup groups read it off their own matched
      //       run IN the ranking (equal-prefix old rows are CONSECUTIVE
      //       dense ranks, so _nor = group max(_or) + 1 is a window);
      //       fresh prefixes binary-search a fixed-size BOUNDARY TABLE
      //       (the seg at every ceil(R/8192)th rank, collected once —
      //       <= 8192 rows of bounded metadata, re-entered as ONE plan
      //       literal; seg order == rank order) for their bucket, then
      //       count strictly-smaller segs inside that single bucket
      //       (bucket rows = R/8192, only affected buckets move —
      //       selected by a broadcast semi-join).
      // The probe round-1 ranking then covers AFFECTED rows only, keyed
      // by _seg alone — order-consistent with the full index (the seg
      // comparison IS the index's comparator).
      val debugTiming = oldDf.sparkSession.conf
        .getOption("spark.graft.debugTiming").contains("true")
      var tPrep = System.nanoTime()
      def prepMark(label: String): Unit = if (debugTiming) {
        System.err.println(
          f"[sa-incr] prep:$label ${(System.nanoTime() - tPrep) / 1e9}%.2f s")
        tPrep = System.nanoTime()
      }
      // R = highest landed rank (dense, so also the rank count) — one
      // sidecar scan, both paths (the insertion arithmetic needs it);
      // computed on the overlapped thread above, consumed here
      val rRow = scala.concurrent.Await.result(sidecarStatsF,
        scala.concurrent.duration.Duration.Inf)
      if (hasSeedCol && !rRow.isNullAt(1)) {
        require(rRow.getInt(1) == seedK && rRow.getInt(2) == seedK,
          s"sidecar was built with seedK=${rRow.getInt(1)}, caller " +
            s"passed $seedK — rebuild the sidecar or pass its seedK")
      }
      val rMax = if (rRow.isNullAt(0)) 0L else rRow.getLong(0)
      prepMark("rmax")
      val probeRatio = oldDf.sparkSession.conf
        .getOption("spark.graft.saIncr.probeRatio").map(_.toLong)
        .getOrElse(32L)
      // absolute floor as well as a ratio. Round 15 MOVED the floor
      // inside the measurable range: after the job-collapse work
      // (observe-driven termination, fused final ranking, filter-based
      // class table) the probe seat WINS the forced A/B at the x30
      // vintage's 8.4M ranks — two independent runs, small delta:
      // probe 15.8 / 21.0 s vs forced-union 20.9 / 38.7 s — while the
      // sf0.1 gate's 260k-rank index still favors union (probe 19.7 vs
      // union 14.5 s: at tiny indices the probe's extra serial driver
      // jobs cost more than the skipped index sort). The 4M default
      // sits between the two measured points on the union side; the
      // billion-rank regime — where an index-wide range-sort per small
      // delta is the one unaffordable thing — now extrapolates from a
      // measured WIN, not prose, and the seat stays spec-pinned to the
      // rebuild oracle plus the shuffle-record census
      // (DedupSimilaritySpec) either way.
      val probeMinIndex = oldDf.sparkSession.conf
        .getOption("spark.graft.saIncr.probeMinIndex").map(_.toLong)
        .getOrElse(4000000L)
      val estDeltaRows = math.max(1L, textBytes / 6L)
      // ratio compared via DIVISION, never `probeRatio * estDeltaRows`:
      // the multiply overflows Long when a forced-union run sets
      // probeRatio = Long.MaxValue (wraps negative for estDeltaRows >= 2
      // and would silently satisfy the clause on a large index)
      val useProbe =
        if (probeRatio == 0L) rMax > 0L // forced-probe escape hatch
        else rMax / estDeltaRows > probeRatio && rMax > probeMinIndex
      if (debugTiming) System.err.println(
        s"[sa-incr] path=${if (useProbe) "probe" else "union"} " +
          s"rMax=$rMax estDeltaRows=$estDeltaRows")
      val newWithKr = newBase.select(col("_new"), col("_or"), col("_src"),
        col("_pos"), col("_slen"), col("_path"), lit(0L).as("_kr"),
        col("_cov"), col("_seg"))
      var freshNor: DataFrame = null
      var freshNorWarm: scala.concurrent.Future[Long] = null
      val oldBase =
        if (!useProbe)
          reps0.select(lit(0).as("_new"), col("_or"),
            concat(lit("d:"), col("_doc").cast("string")).as("_src"),
            col("_pos"), col("_slen"),
            array().cast("array<bigint>").as("_path"),
            lit(0L).as("_kr"), lit(seedK.toLong).as("_cov"), col("_seg"))
        else {
          val newSegs = newBase.select("_seg").distinct().persist()
          pinned += newSegs
          val matchedOld = reps0.join(segProbe(newSegs), Seq("_seg"))
            .persist()
          pinned += matchedOld
          val step = math.max(1L, (rMax + 8191L) / 8192L)
          // boundary segs COLLECTED to the driver (<= 8192 rows —
          // bounded metadata, the offsets/tailMin discipline) and
          // re-entered as ONE array literal: the draft attached them via
          // crossJoin(broadcast(one-row-array-frame)), which copies the
          // whole ~400 KB array into EVERY probe row's UnsafeRow —
          // gigabytes of pure copy at a few thousand fresh segs
          // (measured: round 1 9-90 s). A plan literal is referenced,
          // never per-row copied.
          // sorted by _or, NOT by the seg strings: the ranks were minted
          // under Spark's binary UTF-8 comparison, while a driver-side
          // .sorted would use Java's UTF-16 code-unit order — the two
          // disagree for supplementary-plane chars (emoji) mixed with
          // U+E000..U+FFFF, which would send fresh prefixes to wrong
          // buckets exactly in the non-ASCII crawl regime the probe seat
          // is built for. Rank order IS the engine's seg order, exact.
          val bsSegs = reps0.filter(((col("_or") - 1L) % lit(step)) === 0L)
            .select(col("_or"), col("_seg")).collect()
            .sortBy(_.getLong(0)).map(_.getString(1))
          val bsArr = typedLit(bsSegs.toSeq)
          prepMark("boundaries")
          // count of boundaries <= s via a log2-depth fold (14 halvings
          // cover the <= 8192 boundaries); bucket = count - 1, or -1
          // when s precedes rank 1 (its successor is then rank 1)
          def bucketOf(s: Column, arr: Column): Column =
            aggregate(sequence(lit(1), lit(14)),
              struct(lit(0).as("lo"), size(arr).as("hi")),
              (acc, _) => {
                val lo = acc.getField("lo")
                val hi = acc.getField("hi")
                val mid = ((lo + hi + 1) / 2).cast("int")
                when(lo >= hi, acc).otherwise(
                  when(element_at(arr, mid) <= s,
                    struct(mid.as("lo"), hi.as("hi")))
                    .otherwise(struct(lo.as("lo"), (mid - 1).as("hi"))))
              },
              acc => (acc.getField("lo") - 1).cast("long"))
          // fresh-prefix successor table, warmed on a SECOND DRIVER
          // THREAD (the dupProbeF discipline): its chain — anti-join
          // against the matched prefixes, row-local binary search,
          // affected-bucket semi-join, bucket-local count — is
          // independent of the round-1 ranking, so its index scans
          // overlap the ranking's exchange instead of serializing in
          // front of it. Dup groups don't need it at all: their _nor
          // rides the ranking's own group window (max(_or) + 1). Both
          // sides are persisted, so a racing fill at worst computes a
          // block twice.
          freshNor = {
            val freshB = newSegs
              .join(segProbe(matchedOld.select("_seg").distinct()),
                Seq("_seg"), "left_anti")
              .select(col("_seg"), bucketOf(col("_seg"), bsArr).as("_bk"))
              .persist()
            pinned += freshB
            val oldBuck = reps0
              .select(col("_seg").as("_oseg"),
                expr(s"(_or - 1) div $step").as("_bk"))
              .join(broadcast(freshB.select("_bk").distinct()
                .filter(col("_bk") >= 0)), Seq("_bk"), "left_semi")
            freshB.filter(col("_bk") >= 0)
              .join(oldBuck, Seq("_bk"))
              .groupBy(col("_seg"), col("_bk"))
              .agg(sum(when(col("_oseg") < col("_seg"), 1L).otherwise(0L))
                .as("_c"))
              .select(col("_seg"),
                (col("_bk") * step + col("_c") + 1L).as("_norF"))
              .unionAll(freshB.filter(col("_bk") < 0)
                .select(col("_seg"), lit(1L).as("_norF")))
              .persist()
          }
          pinned += freshNor
          freshNorWarm = scala.concurrent.Future(freshNor.count())(
            scala.concurrent.ExecutionContext.global)
          matchedOld
            .select(lit(0).as("_new"), col("_or"),
              concat(lit("d:"), col("_doc").cast("string")).as("_src"),
              col("_pos"), col("_slen"),
              array().cast("array<bigint>").as("_path"),
              lit(0L).as("_kr"), lit(seedK.toLong).as("_cov"),
              col("_seg"))
        }
      // ROUND KEYS (rewritten for the round-15 fused passenger ranking):
      // round 1 ranks on the SCALAR (prev rank, next segment) pair — a
      // round's dense rank completely encodes the row's group path, so
      // two rows differing at ANY earlier element carry different ranks.
      // Rounds >= 2 rank on the row's rank PATH, padded element-by-
      // element into scalar long columns (_rk1.._rkp — array orderings
      // are interpreted, ~4x measured, so the exchange never keys on
      // the array itself), with the passenger sort key `_sk` last: the
      // active rows' next segment, or a frozen row's `_fkey`. Earlier
      // rounds' FROZEN rows ride every later ranking as passengers
      // keyed the same way, so the round that ends with zero escalators
      // has already ordered every affected row and IS the final ranking
      // — the former standalone padded-path final ranking no longer
      // exists. The per-round key width therefore grows with the round
      // count (p long columns at round p+1) — bounded by maxRounds, and
      // in practice by the two-pass full-need fetch.
      // COVERAGE is per-ROW (`_cov`, group-uniform by induction: every
      // member of a group shares the same fetch history) since round 14:
      // a group whose full remaining need (_maxLen - _cov) fits within a
      // bounded overshoot of the geometric fetch grabs it ALL in one
      // escalation and resolves next round — for doc-bounded suffixes
      // (every real corpus) the merge is exactly TWO ranked passes; the
      // geometric path survives as the fallback for groups where one
      // long member would force a large over-fetch on the rest (shared
      // boilerplate prefixes), keeping per-round bytes bounded.
      var pending = oldBase.unionAll(newWithKr)
      var round = 0
      var done = false
      // FUSED FINAL RANKING (round 15): from round 2 on, every frozen
      // row rides the round's ranking as a PASSENGER — keyed by its
      // padded rank path (+ `_fkey`, see the freeze below) exactly as
      // the former standalone final ranking keyed it — so the round
      // that ends with zero escalators has ALREADY ordered every
      // affected row and IS the final ranking: the separate
      // union-frozen-parts + rank + checkpoint phase (two more serial
      // jobs over the same delta-sized rows) no longer exists. A round
      // that does escalate simply discards its passengers' ranks (they
      // stay in frozenParts) — the ride was one delta-neighborhood-
      // sized re-exchange, bounded by the round count.
      var fusedLocal: DataFrame = null
      var nAffectedBound = 0L
      // DELTA-LOCAL SEAT (round 16, the r13 <=5 s bar): at gate scale
      // the merge's bill is ~66 stages of ~0.1-0.15 s FIXED cost over a
      // 2-round merge whose data fits one partition — the data is
      // delta-neighborhood-sized from round 2 on, but every refinement
      // round, class-table window, and cross-partition stitch still
      // pays distributed plan+schedule latency. When round 1's OWN
      // observation shows the affected neighborhood is driver-sized
      // (row count under `spark.graft.saIncr.localMaxRows`, escalator
      // text bytes under `...localMaxBytes`, both measured not guessed),
      // the remaining refinement runs ON THE DRIVER over the collected
      // neighborhood: suffixes compare as UTF-8 bytes of the
      // space-joined token stream (exactly the engine's comparator —
      // java.lang.String order is UTF-16 and diverges on
      // supplementary-plane text, see the boundary-table note above),
      // classes and insertion offsets fold in one pass, and only two
      // driver-sized frames re-enter the plan (the jump table and the
      // fresh-row ranks). The distributed rounds >= 2 remain the 100-TB
      // seat past the budget and stay oracle-pinned by the localMaxRows
      // =0 spec variants. 0 disables the seat entirely.
      val localMaxRows = oldDf.sparkSession.conf
        .getOption("spark.graft.saIncr.localMaxRows").map(_.toLong)
        .getOrElse(1L << 20)
      val localMaxBytes = oldDf.sparkSession.conf
        .getOption("spark.graft.saIncr.localMaxBytes").map(_.toLong)
        .getOrElse(64L << 20)
      // (fresh-row final ranks (g, pos, rank), jump table (t, ins, tn))
      var localResolved
          : Option[(Seq[(String, Long, Long)], Seq[(Long, Long, Long)])] =
        None
      while (!done && round < maxRounds) {
        val t0 = System.nanoTime()
        // rounds >= 2 rank (padded path keys, passenger sort key last);
        // round 1 ranks the scalar (_kr, _seg) pair as before
        val p = round // active rows' current path length
        val (rankInput, rankKeys) =
          if (p == 0 || frozenParts.isEmpty)
            (pending.withColumn("_psg", lit(0))
              .withColumn("_sk", col("_seg")), Seq("_kr", "_seg"))
          else {
            val act = pending.select(col("_new"), col("_or"), col("_src"),
              col("_pos"), col("_slen"), col("_cov"), col("_path"),
              col("_kr"), col("_nor"), lit(0).as("_psg"),
              col("_seg").as("_sk"))
            val psg = frozenParts.map(_.select(col("_new"), col("_or"),
              col("_src"), col("_pos"), lit(0L).as("_slen"),
              lit(0L).as("_cov"), col("_path"), lit(0L).as("_kr"),
              col("_nor"), lit(1).as("_psg"), col("_fkey").as("_sk")))
              .reduce(_ unionAll _)
            val both = act.unionAll(psg)
            val keyed = both.select(both.columns.map(col) ++
              (1 to p).map(i =>
                coalesce(try_element_at(col("_path"), lit(i)), lit(0L))
                  .as(s"_rk$i")): _*)
            (keyed, (1 to p).map(i => s"_rk$i") :+ "_sk")
          }
        // union-path round 1 reads its per-pid old-row counts off the
        // ranking job's own stats collect (the running-count _nor)
        val (ranked, nRows, parted, statRows) = rankedInlineRows(rankInput,
          rankKeys, nParts,
          if (round == 0 && !useProbe)
            Seq(sum(when(col("_or").isNotNull, 1L).otherwise(0L)).as("_c"))
          else Nil)
        if (nRows == 0) { done = true; parted.unpersist(blocking = false) }
        else {
          round += 1
          // group stats as WINDOW aggregates over the range frame: a
          // group's rows share (_pid, _rank) — already co-partitioned
          // and sorted by the ranking window — so n/hasNew/maxLen cost
          // no exchange and no join-back
          val wg = Window.partitionBy(col("_pid"), col("_rank"))
          val statCols = Seq(
            count(lit(1)).over(wg).as("_n"),
            max(col("_new")).over(wg).as("_hasNew"),
            max(col("_slen")).over(wg).as("_maxLen"))
          val stepped =
            if (round == 1 && useProbe) {
              // probe path: input is already affected-only, so what
              // remains round-1-specific is attaching _nor — a dup
              // group's matched old run IS its group, so _nor =
              // max(_or) + 1 rides the group-stats window for free;
              // fresh groups LEFT-join the concurrently-built successor
              // table — after the windows, so the (pid, _rank)
              // partitioning still feeds the stats exchange-free
              val grpMax = max(col("_or")).over(wg)
              ranked.select(Seq(col("_new"), col("_or"), col("_src"),
                  col("_pos"), col("_slen"), col("_cov"), col("_seg"),
                  col("_psg"), col("_sk"), col("_pid"),
                  concat(col("_path"), array(col("_rank"))).as("_path"),
                  col("_rank").as("_kr"), grpMax.as("_gom"))
                  ++ statCols: _*)
                .join(segProbe(freshNor), Seq("_seg"), "left")
                .withColumn("_nor",
                  coalesce(col("_gom") + 1L, col("_norF")))
                .drop("_seg", "_gom", "_norF")
            } else if (round == 1) {
              // union path: the one pass that sees the whole index.
              // _nor — the next OLD rank strictly after my round-1
              // group in index order — is a partition-local RUNNING
              // COUNT of old rows (ties included; old reps' round-1
              // order is their landed-rank order and _or is dense
              // 1..R), whose required sort (_pid, _rank asc) is the
              // group-stats window's own ordering, stitched across
              // partitions by nParts driver longs off the ranking job's
              // stats. Pure-old groups are then DROPPED: their relative
              // order IS the landed rank, recovered at the end by the
              // insertion-offset arithmetic — they never checkpoint and
              // never enter the final ranking.
              val pstats = statRows.map(r => (r.getInt(0), r.getLong(2)))
              val offs = (0 until nParts).map { p =>
                pstats.filter(_._1 < p).map(_._2).sum
              }
              val offE =
                element_at(array(offs.map(lit): _*), col("_pid") + 1)
              val wCnt = Window.partitionBy(col("_pid"))
                .orderBy(col("_rank"))
                .rangeBetween(Window.unboundedPreceding, 0)
              ranked.select(Seq(col("_new"), col("_or"), col("_src"),
                col("_pos"), col("_slen"), col("_cov"),
                col("_psg"), col("_sk"), col("_pid"),
                concat(col("_path"), array(col("_rank"))).as("_path"),
                col("_rank").as("_kr"),
                (sum(when(col("_or").isNotNull, 1L).otherwise(0L))
                  .over(wCnt) + offE + 1L).as("_nor"))
                ++ statCols: _*)
                .filter(col("_hasNew") === 1)
            } else ranked.select(Seq(col("_new"), col("_or"), col("_src"),
              col("_pos"), col("_slen"), col("_cov"),
              col("_psg"), col("_sk"), col("_pid"),
              concat(col("_path"), array(col("_rank"))).as("_path"),
              col("_rank").as("_kr"), col("_nor")) ++ statCols: _*)
          // ONE checkpoint per round, AFFECTED rows only — the held
          // total across rounds is delta-neighborhood-sized, not the
          // union (pure-old rows never land anywhere). A group that
          // full-need-fetched last round has _maxLen <= _cov and freezes
          // here: remaining ties are whole-suffix duplicates.
          //
          // TERMINATION RIDES THE CHECKPOINT JOB (round 15): an
          // Observation on the checkpointed plan counts escalator rows
          // (and sums their _src bytes — the tokTable probe-side
          // estimate) during the materialization itself, replacing the
          // standalone isEmpty job per round — whose done=true case was
          // the expensive one (take(1)'s scale-up scans every partition
          // to find nothing). The short poll + isEmpty fallback below
          // covers the case where the checkpoint action does not report
          // observed metrics (a Spark-internal contract this code never
          // bets correctness on).
          val obs = new org.apache.spark.sql.Observation()
          // `_first` marks ONE row per terminal CLASS on the checkpoint
          // itself: pure-old groups are per-_or singleton classes (every
          // row first); any other group is one class whose first row is
          // an OLD member when one exists (nulls-last), so the first
          // row's _or IS the class anchor — the class table below is
          // then a narrow FILTER over the checkpoint, with no groupBy
          // exchange and no range repartition (round 15)
          val wFirst = Window.partitionBy(col("_pid"), col("_kr"))
            .orderBy(col("_or").asc_nulls_last)
          val landed = Checkpoints.eager(stepped
            .withColumn("_esc", col("_psg") === 0 &&
              col("_n") > 1 && col("_hasNew") === 1 &&
              col("_maxLen") > col("_cov"))
            .withColumn("_first", when(col("_hasNew") === 0, lit(1))
              .otherwise(row_number().over(wFirst)))
            .observe(obs,
              count(when(col("_esc"), 1L)).as("_ne"),
              sum(when(col("_esc"),
                length(col("_src")).cast("long") + 64L)
                .otherwise(0L)).as("_nb"),
              // affected-row count off the SAME job (round-16 advice
              // fix): on the union path's round 1 the ranking's nRows
              // is the WHOLE index + delta, but the checkpoint below
              // it is already affected-only (_hasNew filter), so this
              // count is the honest nAffectedBound — the round-1 value
              // previously over-forced shuffle_hash on the classRanks
              // probe estimate for large indices
              count(lit(1)).as("_na")))
          // a subgroup that split PURE-OLD in a later round needs no
          // content: landed rank order is content order — carried as
          // the row's `_fkey` SORT KEY (19-digit zero-padded _or: string
          // order == numeric order for non-negative longs), which the
          // passenger ranking above compares AFTER the padded path, so
          // split siblings order by landed rank with no content fetched.
          // Every other frozen row's _fkey is '' (singletons, and
          // whole-group ties that must stay one class). Passengers keep
          // the _fkey they froze with and are never re-frozen.
          frozenParts += landed.filter(!col("_esc") && col("_psg") === 0)
            .select(col("_new"), col("_or"), col("_src"), col("_pos"),
              col("_path"), col("_nor"),
              when(col("_n") > 1 && col("_hasNew") === 0,
                  lpad(col("_or").cast("string"), 19, "0"))
                .otherwise(lit("")).as("_fkey"))
          // termination read first: a round with zero escalators skips
          // the tokenized-source build and the escalation-fetch plan
          // entirely. The count comes from the checkpoint job's own
          // observed metrics (see above); the poll-then-fallback keeps
          // a missed observation from ever hanging or mis-terminating.
          val escStats: Option[(Long, Long, Long)] =
            try {
              val row = scala.concurrent.Await.result(obs.future,
                scala.concurrent.duration.Duration(500,
                  java.util.concurrent.TimeUnit.MILLISECONDS))
              def asL(i: Int): Long =
                if (row.isNullAt(i)) 0L else row.getLong(i)
              Some((asL(row.fieldIndex("_ne")), asL(row.fieldIndex("_nb")),
                asL(row.fieldIndex("_na"))))
            } catch {
              case _: java.util.concurrent.TimeoutException => None
            }
          done = escStats match {
            case Some((ne, _, _)) => ne == 0L
            case None =>
              if (debugTiming) System.err.println(
                "[sa-incr] observation missed; isEmpty fallback")
              landed.filter(col("_esc")).isEmpty
          }
          // the observed checkpoint row count is affected-only on every
          // path (the union path filtered _hasNew above); nRows is the
          // safe-direction fallback when the observation was missed
          if (done) {
            fusedLocal = landed
            nAffectedBound = escStats.map(_._3).getOrElse(nRows)
          }
          // delta-local attempt: both gates come from MEASUREMENTS (the
          // observed affected-row count; one agg over the already-tiny
          // joined text frame), and a budget miss falls through to the
          // distributed rounds untouched. ROUND 1 ONLY (round-17 advice
          // fix): resolveDeltaLocal's next-anchor search assumes groups
          // are round-1 groups (_kr = round-1 rank, _nor = next old
          // rank after the round-1 group) — after a round-2+ split,
          // anchored sibling subgroups of the same round-1 group can
          // rank between a new-only class and _nor, which only the
          // distributed seat's global wNa window sees. A round-1
          // decline (bytes over budget, or a missed observation) is
          // therefore a FINAL decline: rounds >= 2 are distributed.
          if (!done && round == 1 && localMaxRows > 0 &&
              escStats.exists(_._3 <= localMaxRows)) {
            var tSeat = System.nanoTime()
            def seatMark(label: String): Unit = if (debugTiming) {
              System.err.println(f"[sa-incr] seat:$label " +
                f"${(System.nanoTime() - tSeat) / 1e9}%.2f s")
              tSeat = System.nanoTime()
            }
            // text fetch + byte-budget agg on a SECOND DRIVER THREAD,
            // overlapping the affected-row collect (the sidecar-stats
            // overlap discipline): the corpus is scanned ONCE, probed
            // against the broadcast escalator-src keys (delta-sized,
            // read straight off the landed checkpoint), and persisted
            // so the budget agg and the collect share the scan
            val tfF = scala.concurrent.Future {
              val escSrcDf = landed.filter(col("_esc"))
                .select("_src").distinct()
              val t = oldG.select(concat(lit("d:"),
                  col("_doc").cast("string")).as("_src"), col("_t"))
                .unionAll(newFresh.select(concat(lit("g:"), col("_g"))
                  .as("_src"), col("_t")))
                .join(broadcast(escSrcDf), Seq("_src")).persist()
              // octet_length, not length (round-17 advice fix): the
              // seat materializes these texts as UTF-8 BYTES on the
              // driver, so the budget must measure bytes — char length
              // under-counts multi-byte text by up to 4x
              val b = t.agg(coalesce(sum(octet_length(col("_t"))
                .cast("long")), lit(0L))).head().getLong(0)
              (t, b)
            }(scala.concurrent.ExecutionContext.global)
            val aRows = landed.select(col("_new"), col("_or"),
              col("_src"), col("_pos"), col("_kr"), col("_nor"),
              col("_esc")).collect()
            seatMark("collect-rows")
            val (tf, tBytes) = scala.concurrent.Await.result(tfF,
              scala.concurrent.duration.Duration.Inf)
            seatMark("text-budget")
            if (tBytes <= localMaxBytes) {
              val texts = tf.collect().iterator.map(r => r.getString(0) ->
                r.getString(1).getBytes(
                  java.nio.charset.StandardCharsets.UTF_8)).toMap
              tf.unpersist(blocking = false)
              seatMark("collect-texts")
              localResolved = Some(resolveDeltaLocal(aRows, texts, rMax))
              seatMark("resolve")
              done = true
              if (debugTiming) System.err.println(
                s"[sa-incr] delta-local seat: rows=${aRows.length} " +
                  s"textBytes=$tBytes")
            } else {
              tf.unpersist(blocking = false)
              if (debugTiming) System.err.println(
                s"[sa-incr] delta-local seat declined: textBytes=" +
                  s"$tBytes > $localMaxBytes")
            }
          }
          if (!done && tokTable == null)
            tokTable = buildTokTable(
              landed.filter(col("_esc")).select("_src").distinct(),
              escStats.map(_._2))
          // FULL-NEED fetch with a bounded overshoot: the group's whole
          // remaining need (_maxLen - _cov, group-uniform — _maxLen is a
          // group stat, _cov group-uniform) is grabbed when it is within
          // fullNeedCap x the current coverage — one escalation resolves
          // the group, whatever the document length. Groups where one
          // long member would force a > fullNeedCap x over-fetch on
          // every sibling (a short shared-boilerplate prefix inside one
          // jumbo page) fall back to the geometric 3x fetch (the
          // round-13 growth-4 policy), so per-round bytes stay bounded
          // by a constant factor of the proven-necessary fetch. Clamps:
          // _cov / segment lengths only ever compare against token
          // counts (INT-sized); the int casts below need both inside
          // Int range.
          val fullNeedCap = 16L
          val fullNeed = col("_maxLen") - col("_cov")
          val segLen = least(
            when(fullNeed <= col("_cov") * fullNeedCap, fullNeed)
              .otherwise(col("_cov") * 3L),
            lit((Int.MaxValue / 2).toLong))
          if (!done)
            pending = landed.filter(col("_esc"))
              .join(tokTable.hint("shuffle_hash"), Seq("_src"))
              .select(col("_new"), col("_or"), col("_src"), col("_pos"),
                col("_slen"),
                least(col("_cov") + segLen, lit((Int.MaxValue / 2).toLong))
                  .as("_cov"),
                col("_path"), col("_kr"), col("_nor"),
                concat_ws(" ", slice(col("_tk"),
                  (col("_pos") + col("_cov")).cast("int"),
                  segLen.cast("int"))).as("_seg"))
          parted.unpersist(blocking = false)
          if (debugTiming) System.err.println(
            f"[sa-incr] round $round rows=$nRows " +
              f"${(System.nanoTime() - t0) / 1e9}%.2f s done=$done")
        }
      }
      require(done,
        s"suffixRanksIncremental: ties unresolved after $maxRounds rounds")
      // the successor-table warmer has surely finished by now; joining
      // it here keeps the `finally` sweep from racing a live job
      if (freshNorWarm != null)
        scala.concurrent.Await.result(freshNorWarm,
          scala.concurrent.duration.Duration.Inf)
      var tMark = System.nanoTime()
      def mark(label: String): Unit = if (debugTiming) {
        System.err.println(
          f"[sa-incr] $label ${(System.nanoTime() - tMark) / 1e9}%.2f s")
        tMark = System.nanoTime()
      }
      // dup-output probe placement is INDEPENDENT of the class-table
      // stitches below — its one agg job (and the newMembers cache fill
      // it triggers) overlaps them on a second driver thread instead of
      // serializing after them (Spark job submission is thread-safe;
      // both inputs are registered-persisted, so a racing fill at worst
      // computes a block twice)
      val dupPairs = newMembers
        .join(oldDupDocs.hint("shuffle_hash"), Seq("_g"))
        .select(col("_doc"), col("_odoc"))
      val dupProbeF = scala.concurrent.Future(probeSide(dupPairs))(
        scala.concurrent.ExecutionContext.global)
      // ---- the final local order comes straight off the terminal
      // round's checkpoint (the fused passenger ranking above): `_lr` is
      // the terminal round's rank — order-consistent with index order
      // because every key path starts at the round-1 rank — and `_ls`
      // splits the one class kind the rank alone cannot: PURE-OLD groups
      // tied at their fetched coverage, whose members are distinct
      // landed suffixes that order by _or (no content needed — landed
      // rank order IS content order). Classes with any new member never
      // share a rank with a split (group stats are group-uniform), so
      // _ls = 0 for them and every downstream join on _lr alone stays
      // exact. When NO round ever landed (an empty delta through the
      // probe seat) there are no affected rows at all — an empty frame
      // of the right shape feeds the class machinery, and every derived
      // table is empty by construction.
      // earlier rounds' frozen checkpoints were re-ranked INTO the
      // terminal round's checkpoint (the passenger ride) — release all
      // but the terminal one, which backs `local` and the output below
      frozenParts.dropRight(1).foreach { f =>
        f.queryExecution.analyzed.collectFirst {
          case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
        }.foreach(_.unpersist(blocking = false))
      }
      // ---- insertion-offset expansion, shared by both seats:
      // ins(r) = #new-only classes ordered strictly before old class r
      // = max i at insertion point t <= r — a step function with one
      // jump per distinct t, expanded to a full (old rank -> offset)
      // column by a CHUNKED narrow generate: chunk starts shuffle
      // (tiny), each task expands <= 64k ranks, so one giant gap never
      // serializes into one task
      val chunk = 65536L
      def expandMapping(jump2: DataFrame): DataFrame = jump2
        .filter(col("_t") <= rMax)
        .select(col("_ins"), least(col("_tn") - 1, lit(rMax)).as("_hi"),
          explode(sequence(col("_t"), least(col("_tn") - 1, lit(rMax)),
            lit(chunk))).as("_s"))
        .repartition(nParts)
        .select(explode(sequence(col("_s"),
            least(col("_s") + lit(chunk - 1), col("_hi"))))
            .as("suffix_rank"),
          col("_ins"))
      // the offset table is rMax rows of two longs — ADAPTIVELY
      // broadcast (round 15): under the probe budget the output-sized
      // union below joins it with NO exchange at all (the gate-scale
      // artifact join was the output phase's one big shuffle); past the
      // budget the shuffle_hash form stands, the 100-TB seat
      def mappingProbeOf(m: DataFrame): DataFrame =
        if (rMax * 64L <= probeBudgetBytes) broadcast(m)
        else m.hint("shuffle_hash")
      // ---- the distributed class machinery (the 100-TB seat; also the
      // empty-affected case) — a def so the delta-local path never
      // plans any of it
      def distributedClassPhase(): (DataFrame, DataFrame) = {
      val local =
        if (fusedLocal != null)
          fusedLocal.select(col("_new"), col("_or"), col("_src"),
            col("_pos"), col("_nor"), col("_kr").as("_lr"),
            when(col("_hasNew") === 0, coalesce(col("_or"), lit(0L)))
              .otherwise(lit(0L)).as("_ls"),
            col("_pid"), col("_first"), col("_hasNew").as("_hasN"))
        else oldBase.filter(lit(false)).select(col("_new"), col("_or"),
          col("_src"), col("_pos"), lit(0L).as("_nor"),
          lit(0L).as("_lr"), lit(0L).as("_ls"),
          lit(0).as("_pid"), lit(1).as("_first"), lit(0).as("_hasN"))
      mark("fused-local")
      // ---- class table: one row per affected CLASS (equal terminal
      // (_lr, _ls) = rows tied forever = one dense-rank class). A class
      // holds at most one old rank (landed ranks are dense over distinct
      // suffixes). ZERO exchanges (round 15): the `_first` flag minted
      // on the checkpoint marks each class's representative row — whose
      // _or IS the class anchor (nulls-last first) and whose _nor is
      // group-uniform — so the class table is a narrow FILTER over the
      // landed checkpoint, keeping the checkpoint''s own _pid for the
      // per-pid stitch windows below (the former groupBy + range
      // repartition pair shuffled the class rows twice).
      // REGISTERED persist (round 14): this and the derived
      // newIdx/mapping/classRanks frames below all stay cached through
      // the caller's lazy evaluation of the returned output and release
      // at the harness's per-query registry sweep; the cstats/tailMin
      // collects below are the only eager jobs left in this phase.
      val cparted = Caches.operatorPersist(
        local.filter(col("_first") === 1)
          .select(col("_lr"), col("_ls"), col("_or").as("_cor"),
            col("_nor").as("_nor2"), col("_hasN"), col("_pid")))
      // one per-partition collect serves BOTH cross-partition stitches:
      // suffix-min of _cor (the next-anchor lookup) and prefix-sum of
      // the new-only class counts (their 1..N numbering)
      val cstats = cparted.groupBy("_pid")
        .agg(min(col("_cor")).as("_mn"),
          sum(when(col("_cor").isNull, 1L).otherwise(0L)).as("_nc"))
        .collect()
        .map(r => (r.getInt(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2)))
      mark("cstats")
      val naTails = (0 until nParts).map { p =>
        cstats.filter(_._1 > p).flatMap(_._2)
          .reduceOption(_ min _).getOrElse(rMax + 1)
      }
      val iOffs = (0 until nParts).map { p =>
        cstats.filter(_._1 < p).map(_._3).sum
      }
      val naTailE =
        element_at(array(naTails.map(lit): _*), col("_pid") + 1)
      val iOffE = element_at(array(iOffs.map(lit): _*), col("_pid") + 1)
      // next ANCHORED class after mine in local order (covers in-group
      // anchors); the true next old class is min(that, my group's _nor):
      // an anchor outside my round-1 group always ranks >= _nor. The
      // ascending twin numbers new-only classes 1..N in the same pass.
      val wNa = Window.partitionBy(col("_pid")).orderBy(col("_lr").desc)
        .rangeBetween(Window.unboundedPreceding, -1)
      val wI = Window.partitionBy(col("_pid")).orderBy(col("_lr"))
        .rangeBetween(Window.unboundedPreceding, 0)
      val ct2 = cparted
        .withColumn("_na", least(min(col("_cor")).over(wNa), naTailE))
        .withColumn("_i",
          sum(when(col("_cor").isNull, 1L).otherwise(0L)).over(wI) + iOffE)
      // ---- new-only classes, numbered 1..N in local order. Their
      // global rank is (t - 1) + i: t-1 old classes and i-1 new-only
      // classes sort before them (t is NON-DECREASING in local order, so
      // i already counts every new-only class before mine across all t)
      val newIdx = Caches.operatorPersist(ct2.filter(col("_cor").isNull)
        .select(col("_lr"), least(col("_na"), col("_nor2")).as("_t"),
          col("_i")))
      // ---- insertion-offset table: ins(r) = #new-only classes ordered
      // strictly before old class r = max i at insertion point t <= r —
      // a step function with one jump per distinct t, expanded to a full
      // (old rank -> offset) column by a CHUNKED narrow generate: chunk
      // starts shuffle (tiny), each task expands <= 64k ranks, so one
      // giant gap never serializes into one task
      // range-exchange FIRST, aggregate in place (the ct discipline
      // above) — one shuffle of the new-only class rows, not two
      val jparted = Caches.operatorPersist(
        newIdx.repartitionByRange(nParts, col("_t"))
          .groupBy(col("_t")).agg(max(col("_i")).as("_ins"))
          .withColumn("_pid", spark_partition_id()))
      val wLead = Window.partitionBy(col("_pid")).orderBy(col("_t"))
      val jump2 = jparted.withColumn("_tn",
        coalesce(lead(col("_t"), 1).over(wLead),
          tailMinExpr(jparted, "_t", nParts, rMax + 1)))
      mark("tailmin")
      // persisted: consumed by both the anchored-class join below and
      // the corpus-sized shift in the shared output phase
      val mapping = Caches.operatorPersist(expandMapping(jump2))
      val mappingProbe0 = mappingProbeOf(mapping)
      // ---- final ranks per affected class: an ANCHORED class (>= one
      // old member; tying new rows share it) maps through its anchor's
      // offset; a new-only class is (t - 1) + i
      val anch = ct2.filter(col("_cor").isNotNull && col("_hasN") === 1)
        .select(col("_lr"), col("_cor").as("suffix_rank"))
        .join(mappingProbe0, Seq("suffix_rank"), "left")
        .select(col("_lr"),
          (col("suffix_rank") + coalesce(col("_ins"), lit(0L))).as("_fr"))
      val classRanks = Caches.operatorPersist(anch.unionAll(
        newIdx.select(col("_lr"), (col("_t") - 1 + col("_i")).as("_fr"))))
      // fresh delta texts: affected new rows -> class rank -> member docs
      // (classRanks is affected-class-sized — <= nAffected rows, known
      // driver-side off the final ranking's own stats — so it takes the
      // adaptive probe side like every delta-derived frame)
      val freshOutD = local.filter(col("_new") === 1)
        .join(estProbe(nAffectedBound * 64L)(classRanks), Seq("_lr"))
        .select(substring(col("_src"), 3, 32).as("_g"), col("_pos"),
          col("_fr"))
        .join(newMembers.hint("shuffle_hash"), Seq("_g"))
        .select(col("_doc").as(idCol), col("_pos").cast("int").as("pos"),
          col("_fr").as("suffix_rank"))
      (mappingProbe0, freshOutD)
      } // end distributedClassPhase
      val (shiftFn, freshOut): (DataFrame => DataFrame, DataFrame) =
        localResolved match {
        case Some((freshRanks, jumps)) =>
          // DELTA-LOCAL OUTPUT FRAMES: the driver already resolved the
          // affected classes — only ONE driver-sized table re-enters
          // the plan (the fresh-row ranks, broadcast against the
          // delta's member docs, never the corpus). The jump table does
          // NOT re-enter as a frame at all (round 17, r16 verdict #3):
          // it is driver-sized by the seat's own engagement budget
          // (<= one jump per new-only class <= localMaxRows), so the
          // corpus-sized output shift applies it as a LITERAL
          // binary-search step expression ([[graft.plans.StepLookup]] —
          // bit-equal to the left join + coalesce(_ins, 0) by the step
          // tiling: floorEntry over the same TreeMap boundaries)
          // instead of expanding one row PER OLD RANK and joining: at
          // the 10x vintage that expansion was index-sized (2.9M rows,
          // past the 128 MB probe budget) and the shift paid a
          // shuffle_hash exchange of the whole output artifact. The
          // whole class-machinery phase (class-table windows,
          // cstats/tailMin collects, classRanks joins) does not exist
          // on this path.
          val ss = oldDf.sparkSession
          import ss.implicits._
          val frDf = broadcast(freshRanks.toDF("_g", "_pos", "_fr"))
          val fo = newMembers.join(frDf, Seq("_g"))
            .select(col("_doc").as(idCol),
              col("_pos").cast("int").as("pos"),
              col("_fr").as("suffix_rank"))
          // t > rMax jumps shift no existing rank (expandMapping's own
          // `_t <= rMax` filter); ts ascends by TreeMap iteration order
          val live = jumps.filter(_._1 <= rMax)
          val ts = live.map(_._1).toArray
          val ins = live.map(_._2).toArray
          mark("delta-local-frames")
          val f = (df: DataFrame) => df.select(col(idCol), col("pos"),
            (col("suffix_rank") + graft.plans.StepLookup(
              col("suffix_rank"), ts, ins)).as("suffix_rank"))
          (f, fo)
        case None =>
          val (mappingProbe, fo) = distributedClassPhase()
          val f = (df: DataFrame) => df
            .join(mappingProbe, Seq("suffix_rank"), "left")
            .select(col(idCol), col("pos"),
              (col("suffix_rank") + coalesce(col("_ins"), lit(0L)))
                .as("suffix_rank"))
          (f, fo)
      }
      // ---- outputs. Old docs AND the delta's dup-of-old copies shift
      // through the insertion-offset table in ONE join (round 14 — the
      // split oldOut/dupOut forms paid two corpus-sized exchanges by
      // suffix_rank plus one by doc id): dup copies select their old
      // anchor's rows with a PROBE of the landed index (dupPairs is
      // delta-doc-sized, adaptively broadcast — the index never
      // exchanges for it), ride the union, and the single shuffle_hash
      // join against the offset table is output-sized — the artifact
      // itself.
      val dupProbe = scala.concurrent.Await.result(dupProbeF,
        scala.concurrent.duration.Duration.Inf)
      mark("dup-probe")
      val dupSel = ranks.withColumnRenamed(idCol, "_odoc")
        .join(dupProbe, Seq("_odoc"))
        .select(col("_doc").as(idCol), col("pos"), col("suffix_rank"))
      val shiftedOut = shiftFn(ranks
        .select(col(idCol), col("pos"), col("suffix_rank"))
        .unionAll(dupSel))
      shiftedOut.unionAll(freshOut)
    } finally {
      pinned.foreach(_.unpersist(blocking = false))
    }
  }

  /** Tokenized side table (id, token array) for the derived passes. */
  private def tokensOf(df: DataFrame, idCol: String, textCol: String) =
    df.select(col(idCol).as("_d"), split(col(textCol), " ").as("_tk"))

  /** Token-level longest common prefix of two capped prefix arrays:
    * position of the first elementwise mismatch minus one, or the
    * shorter length when one is a prefix of the other. O(cap) — one
    * linear zip_with plus the NATIVE array_position scan. The round-10
    * form counted `slice(1,i) === slice(1,i)` over every i (the set of
    * matching prefix lengths is exactly {1..LCP}, so the count equals
    * the LCP) — same value, but O(cap²) element comparisons inside
    * interpreted HOFs; under the honest bench action that was most of
    * the dup-span/removal gates' cost. Length-mismatch tail: zip_with
    * pads with null, x === null is null, and array_position skips
    * non-equal (incl. null) elements, so a pure-prefix pair correctly
    * falls through to least(size, size). */
  private def lcpOf(pa: Column, pb: Column): Column = {
    val firstMismatch = array_position(
      zip_with(pa, pb, (x, y) => x === y), lit(false))
    when(firstMismatch > 0, firstMismatch - 1)
      .otherwise(least(size(pa), size(pb))).cast("int")
  }

  /** Rank-level max-neighbor-LCP stats over a prebuilt suffix array:
    * (suffix_rank, _maxl) where _maxl = the longest prefix (capped at
    * `cap` tokens) the rank's suffix shares with ANY other suffix — by
    * the classic SA property attained either at a rank NEIGHBOR or, for
    * multi-member ranks (exact whole-suffix duplicates), the suffix's own
    * capped length.
    *
    * CLIQUE-SAFE and allocation-lean: one representative (doc, pos) per
    * rank is chosen BEFORE any prefix materialization (members of a rank
    * are token-identical suffixes, so the rep's prefix and length are
    * rank properties), and only those one-row-per-rank reps join the
    * token table to slice their `cap`-token prefix. The round-10 form
    * carried the slice through a per-POSITION aggregate — ~cap× byte
    * amplification on the map side of the rank groupBy; here the groupBy
    * shuffles bare (rank, id, pos) triples and prefixes exist only at
    * rank granularity. */
  private[graft] def rankMaxLcp(ranks: DataFrame, toks: DataFrame,
      idCol: String, cap: Int): DataFrame = {
    val reps = ranks
      .groupBy(col("suffix_rank"))
      .agg(min(struct(col(idCol), col("pos"))).as("_m"),
        count(lit(1)).as("_nm"))
      .select(col("suffix_rank"), col("_nm"),
        col("_m").getField(idCol).as("_d"), col("_m.pos").as("_pos"))
      .join(toks, Seq("_d"))
      .select(col("suffix_rank"), col("_nm"),
        slice(col("_tk"), col("_pos"), lit(cap)).as("_pref"),
        (size(col("_tk")) - col("_pos") + 1).as("_slen"))
    val next = reps.select((col("suffix_rank") - 1).as("suffix_rank"),
      col("_pref").as("_pn"))
    val stats = reps
      .join(next, Seq("suffix_rank"), "left")
      .select(col("suffix_rank"), col("_nm"), col("_slen"),
        when(col("_pn").isNull, lit(0)).otherwise(lcpOf(col("_pref"),
          col("_pn"))).as("_lcpn"))
    // a rank's max neighbor LCP = max(lcp with next, lcp with prev) —
    // and lcp(r, r-1) is rank r-1's _lcpn, fetched by one shifted join
    val prevOf = stats.select((col("suffix_rank") + 1).as("suffix_rank"),
      col("_lcpn").as("_lcpp"))
    stats.join(prevOf, Seq("suffix_rank"), "left")
      .select(col("suffix_rank"),
        greatest(col("_lcpn"), coalesce(col("_lcpp"), lit(0)),
          when(col("_nm") > 1, least(col("_slen"), lit(cap)))
            .otherwise(lit(0))).as("_maxl"))
  }

  /** Per-document duplicated-span census from a PREBUILT suffix array —
    * the exact-substring dedup DETECTOR (Lee et al. 2022) at SA
    * precision, superseding fixed-k-gram approximations: a position
    * STARTS a duplicated run of ≥ `minRun` tokens iff its suffix shares
    * an LCP ≥ minRun with any other suffix (see [[rankMaxLcp]]). LCPs
    * are capped at `cap` tokens: `max_lcp_tokens` saturates there, and
    * the ≥ minRun flag is exact whenever minRun <= cap. Output:
    * (id, n_dup_starts, max_lcp_tokens) per document.
    *
    * `ranks` must be the [[suffixRanks]] output over the SAME (df,
    * idCol, textCol) — typically read back from the persisted offline
    * build, the one-SA-many-passes production shape. */
  def suffixDupSpansFrom(ranks: DataFrame, df: DataFrame, idCol: String,
      textCol: String, minRun: Int = 8, cap: Int = 30): DataFrame = {
    require(minRun >= 1 && cap >= minRun, "1 <= minRun <= cap")
    val maxLcp = rankMaxLcp(ranks, tokensOf(df, idCol, textCol), idCol, cap)
    ranks.join(maxLcp.hint("shuffle_hash"), Seq("suffix_rank"))
      .groupBy(col(idCol))
      .agg(sum(when(col("_maxl") >= minRun, 1).otherwise(0)).cast("int")
          .as("n_dup_starts"),
        max(col("_maxl")).cast("int").as("max_lcp_tokens"))
  }

  /** One-shot convenience: build the array, then census. Prefer the
    * shared-build form when any other SA pass runs on the same corpus. */
  def suffixDupSpans(df: DataFrame, idCol: String, textCol: String,
      minRun: Int = 8, cap: Int = 30, nParts: Int = 32): DataFrame =
    suffixDupSpansFrom(suffixRanks(df, idCol, textCol, nParts), df,
      idCol, textCol, minRun, cap)

  /** REMOVE duplicated spans at suffix-array precision — the removal
    * half of the Lee et al. 2022 exact-substring pipeline, completing
    * the loop [[suffixDupSpansFrom]] detects for: every token position
    * covered by some duplicated run of ≥ `minRun` tokens is dropped and
    * the text rebuilt from the survivors. A position `p` with
    * max-neighbor-LCP `L ≥ minRun` (capped at `cap`) starts a duplicated
    * run, covering positions p .. p+L-1. Returns (id, clean_text,
    * n_removed) — the same surface as the k-gram approximation
    * `Dedup.removeDuplicatedSpans`, but span boundaries are exact instead
    * of 3-gram-quantized. The output does not depend on `cap` for any
    * `cap >= minRun`: a run capped short is still covered to its end by
    * the starts after p, which share the rest of it (the argument on
    * [[suffixSpansRemove]]); the cap only bounds each start's explode.
    *
    * Plan at scale: rank-level LCP stats (see [[rankMaxLcp]]); the
    * position expansion explodes ≤ cap indices per qualifying START
    * (bounded amplification); covered indices aggregate per doc (bounded
    * by the doc's own token count); the rebuild is the shared
    * O(n + |cov|) [[Dedup.rebuildUncovered]]. Never text×text. */
  def suffixSpansRemoveFrom(ranks: DataFrame, df: DataFrame, idCol: String,
      textCol: String, minRun: Int = 8, cap: Int = 30): DataFrame = {
    val stats = rankMaxLcp(ranks, tokensOf(df, idCol, textCol), idCol, cap)
    suffixSpansRemoveFromStats(ranks, stats, df, idCol, textCol, minRun, cap)
  }

  /** [[suffixSpansRemoveFrom]] over PRECOMPUTED rank stats — the
    * (suffix_rank, _maxl) frame the detector ([[rankMaxLcp]], persisted
    * alongside the SA build in production: the classic SA + LCP index
    * pair) already produced. Removal is then pure consumption: one
    * rank-keyed join, the bounded coverage explode, and the rebuild —
    * the Lee et al. pipeline's detect-once / cut-from-findings shape. */
  def suffixSpansRemoveFromStats(ranks: DataFrame, stats: DataFrame,
      df: DataFrame, idCol: String, textCol: String,
      minRun: Int = 8, cap: Int = 30): DataFrame = {
    require(minRun >= 1 && cap >= minRun, "1 <= minRun <= cap")
    val covered = ranks.join(stats.hint("shuffle_hash"), Seq("suffix_rank"))
      .filter(col("_maxl") >= minRun)
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + col("_maxl") - 1)).as("_j"))
      .groupBy(idCol).agg(collect_set(col("_j")).as("_cov"))
    Dedup.rebuildUncovered(df, covered, idCol, textCol)
  }

  /** One-shot REMOVAL with no suffix array: the same rows as
    * [[suffixSpansRemoveFrom]] over `suffixRanks(df, ...)` for every
    * `cap >= minRun`, from one gram-keyed pass. Split the text, explode
    * each position's `minRun`-token window (keyed by the token array
    * itself — exact, no hash), count each window's (doc, pos)
    * occurrences in one exchange, and cover `[p, p+minRun-1]` for every
    * window seen twice or more; the rebuild is [[Dedup.rebuildUncovered]].
    *
    * Equivalence. (1) LCP(p, q) >= minRun holds exactly when the
    * minRun-windows at p and q are equal, so the SA form's qualifying
    * starts are exactly the repeated windows' starts. (2) If p shares L
    * >= minRun tokens with some q, then p+i shares L-i with q+i, so every
    * window start p .. p+min(L,cap)-minRun repeats too; the union of
    * their windows is `[p, p+min(L,cap)-1]`, the SA form's cover of p.
    * The two covers are the same position sets, whatever the cap.
    *
    * Byte napkin (~6 B/token): each position ships its minRun-token
    * window once through one exchange — ~6·minRun B/position, no
    * round loop, no persisted frames. The array build ships ~3·maxLen
    * B/position for its full-suffix seed (maxLen <= 128), or doubling
    * rounds of ~80 B/position each past that, plus the four rank-keyed
    * joins of [[rankMaxLcp]] and a job per round. Prefer the shared
    * build only when the array is landed anyway (the catalog's
    * `suffix_spans_remove` reads it from disk). `df` is read twice — the
    * window pass and the rebuild — so persist an expensive input. */
  def suffixSpansRemove(df: DataFrame, idCol: String, textCol: String,
      minRun: Int = 8): DataFrame = {
    require(minRun >= 1, "minRun >= 1")
    val covered = Dedup.positionalWindows(df, idCol, textCol, minRun)
      .withColumn("_n", count(lit(1)).over(Window.partitionBy("_w")))
      .filter(col("_n") >= 2)
      .select(col(idCol),
        explode(sequence(col("_p"), col("_p") + (minRun - 1))).as("_j"))
      .groupBy(idCol).agg(collect_set(col("_j")).as("_cov"))
    Dedup.rebuildUncovered(df, covered, idCol, textCol)
  }

  /** Adjacent-rank longest-common-prefix census over a PREBUILT suffix
    * array — the repeated-substring detector exact-substring dedup
    * builds on: consecutive DISTINCT ranks r, r+1 name lexicographically
    * adjacent suffix groups, and their LCP is the length of a substring
    * occurring in both groups' positions. One representative (doc, pos)
    * per rank (equal-rank suffixes are identical sequences, so the
    * representative is canonical), capped prefix comparison (`cap`
    * tokens), top-`topK` by (lcp desc, rank asc). */
  def suffixRepeatsFrom(ranks: DataFrame, df: DataFrame, idCol: String,
      textCol: String, cap: Int = 30, topK: Int = 50): DataFrame = {
    val toks = tokensOf(df, idCol, textCol)
    // one representative suffix per rank: the (doc, pos) min — members of
    // a rank are token-identical suffixes, so any member represents
    val reps = ranks
      .groupBy(col("suffix_rank"))
      .agg(min(struct(col(idCol), col("pos"))).as("_m"),
        count(lit(1)).as("n_suffixes"))
      .select(col("suffix_rank"), col("_m").getField(idCol).as("_d"),
        col("_m.pos").as("_pos"), col("n_suffixes"))
      .join(toks, Seq("_d"))
      .select(col("suffix_rank"), col("_d"), col("_pos"), col("n_suffixes"),
        slice(col("_tk"), col("_pos"), lit(cap)).as("_pref"))
    val a = reps.select(col("suffix_rank"), col("_d").as("doc_a"),
      col("_pos").as("pos_a"), col("n_suffixes").as("n_a"),
      col("_pref").as("_pa"))
    val b = reps.select((col("suffix_rank") - 1).as("suffix_rank"),
      col("_d").as("doc_b"), col("_pos").as("pos_b"), col("_pref").as("_pb"))
    // prefixes are already cap-sliced, so the O(cap) shared lcpOf applies
    val lcp = lcpOf(col("_pa"), col("_pb"))
    a.join(b, Seq("suffix_rank"))
      .select(col("suffix_rank"), col("doc_a"), col("pos_a"),
        col("doc_b"), col("pos_b"),
        greatest(lcp, lit(0)).cast("int").as("lcp_tokens"))
      .orderBy(col("lcp_tokens").desc, col("suffix_rank").asc)
      .limit(topK)
  }

  /** One-shot convenience form of [[suffixRepeatsFrom]]. */
  def suffixRepeats(df: DataFrame, idCol: String, textCol: String,
      cap: Int = 30, topK: Int = 50, nParts: Int = 32): DataFrame =
    suffixRepeatsFrom(suffixRanks(df, idCol, textCol, nParts), df,
      idCol, textCol, cap, topK)
}
