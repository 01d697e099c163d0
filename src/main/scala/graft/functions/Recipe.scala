package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end pretraining-data recipe, composed from the engine's own
  * stages — the query a user of this library actually runs nightly:
  *
  *   raw -> language gate -> quality gate (Gopher rules) -> exact dedup
  *       -> benchmark decontamination -> deterministic sample -> tokens
  *
  * (the FineWeb/RefinedWeb/Gopher pipeline shape). The output is the
  * per-source FUNNEL — doc counts surviving each stage plus the final
  * token budget — which is the artifact data teams review before a run.
  *
  * Plan shape at 100 TB, deliberately:
  *  - every gate flag (lang, Gopher rules) is a NARROW column fused into
  *    the one scan — no per-stage passes over the corpus;
  *  - exact dedup is one digest-keyed window (min survivor id per
  *    md5(text) — uniform hash partitioning, no skew);
  *  - decontamination explodes 5-gram shingles for SURVIVORS ONLY and
  *    probes the broadcast bench-gram set (bench suites are MB-sized);
  *  - the sample gate is a pure hash predicate ([[Sampling.hashSlice32]]),
  *    no shuffle;
  *  - one final groupBy(source) aggregate moves eight longs per source.
  *
  * So: one corpus scan + one digest shuffle + one survivors-only gram
  * explode + one group-sized aggregate. Stages stay individually
  * auditable as the standalone catalog queries they came from
  * (ccnet_lang_buckets, text_quality_gopher, dedup_exact, decontaminate,
  * sample_stratified).
  */
object Recipe {

  /** Per-doc stage flags — the funnel's working frame, exposed so the
    * aggregate views (funnel counts, rejection samples) share one plan:
    * (_lang_ok, _surv_q, _surv_d, _surv_c, _surv_s) per doc plus
    * doc_id/source/text and the battery's `first_failed` (the per-rule
    * loss census rides the funnel for free). The quality stage is the
    * FULL Gopher battery ([[TextAnalysis.gopherChain]], Table A1 rules
    * then Table A2 repetition filters — upgraded in round 14 from the
    * A1-ish heuristic subset). `minWords`/`maxWords` default to a
    * fixture scale (8..100,000); production crawls pass the paper's 50.
    * See [[pretrainFunnel]] for the plan-shape notes. */
  def stageFlags(docs: DataFrame, lang: String = "en",
      benchMod: Long = 20L, sampleMod: Long = 2L,
      minWords: Int = 8, maxWords: Int = 100000): DataFrame = {
    // stage 1+2: language + the full Gopher battery, all narrow columns
    // in one pass over the battery's persisted projection
    val flagged0 = TextAnalysis.gopherChain(docs, "doc_id", "text",
        minWords = minWords, maxWords = maxWords,
        keepCols = Seq("source", "text"))
      .withColumn("_lang_ok", TextAnalysis.langId(col("text")) === lit(lang))
      .withColumn("_surv_q", col("_lang_ok") && col("gopher_keep"))
    // stage 3: exact dedup among quality survivors — min survivor id per
    // content digest, one uniform digest-keyed window
    val wDigest = Window.partitionBy(md5(col("text")))
    val flagged = flagged0
      .withColumn("_min_surv",
        min(when(col("_surv_q"), col("doc_id"))).over(wDigest))
      .withColumn("_surv_d",
        col("_surv_q") && col("doc_id") === col("_min_surv"))
      // read twice: contamination probe + final aggregate
      .transform(Caches.operatorPersist)
    // stage 4: drop survivors sharing any 5-gram with the bench slice;
    // grams explode for survivors only, bench set is broadcast
    val benchGrams = docs.filter(col("doc_id") % benchMod === 0)
      .select(explode(Dedup.shingles(col("text"), 5)).as("gram"))
      .distinct()
    val contaminated = flagged.filter(col("_surv_d"))
      .select(col("doc_id"), explode(Dedup.shingles(col("text"), 5)).as("gram"))
      .join(broadcast(benchGrams), Seq("gram"))
      .select("doc_id").distinct()
      .withColumn("_contam", lit(1))
    // stage 5: deterministic hash sample; stage 6: token budget
    flagged.join(contaminated, Seq("doc_id"), "left")
      .withColumn("_surv_c", col("_surv_d") && col("_contam").isNull)
      .withColumn("_surv_s", col("_surv_c") &&
        Sampling.hashSlice32(col("doc_id")) % sampleMod === 0)
  }

  /** Per-source funnel counts. `benchMod`: docs with id % benchMod == 0
    * form the held-out benchmark slice (the repo-wide decontam fixture
    * convention); `sampleMod`: keep survivors with hash % sampleMod == 0. */
  def pretrainFunnel(docs: DataFrame, lang: String = "en",
      benchMod: Long = 20L, sampleMod: Long = 2L,
      minWords: Int = 8, maxWords: Int = 100000): DataFrame = {
    val staged = stageFlags(docs, lang, benchMod, sampleMod,
      minWords, maxWords)
    staged.groupBy(col("source")).agg(
      count(lit(1)).as("n_raw"),
      sum(when(col("_lang_ok"), 1L).otherwise(0L)).as("n_lang"),
      sum(when(col("_surv_q"), 1L).otherwise(0L)).as("n_quality"),
      sum(when(col("_surv_d"), 1L).otherwise(0L)).as("n_dedup"),
      sum(when(col("_surv_c"), 1L).otherwise(0L)).as("n_decontam"),
      sum(when(col("_surv_s"), 1L).otherwise(0L)).as("n_sampled"),
      sum(when(col("_surv_s"),
        TextAnalysis.tokenCountWs(col("text")).cast("long"))
        .otherwise(0L)).as("tokens_final"))
  }

  /** Rejection census with examples — the debugging view a data team
    * opens when a funnel stage eats more than expected: per
    * (source, first-failed-stage) the doc count and the smallest doc id
    * as a reproducible example. First-failure attribution follows the
    * stage order (lang, quality, duplicate, contaminated, sampled_out,
    * kept) — and a quality rejection names the exact battery RULE
    * (`quality:word_count`, `quality:top_2gram`, ...), the per-rule
    * loss census composed into the production view — so every doc lands
    * in exactly one reason bucket and the counts reconcile with
    * [[pretrainFunnel]]'s stage deltas. Same single-scan flag plan +
    * one (source, reason) aggregate. */
  def rejectionSamples(docs: DataFrame, lang: String = "en",
      benchMod: Long = 20L, sampleMod: Long = 2L,
      minWords: Int = 8, maxWords: Int = 100000): DataFrame = {
    val staged = stageFlags(docs, lang, benchMod, sampleMod,
      minWords, maxWords)
    val reason = when(!col("_lang_ok"), "lang")
      .when(!col("gopher_keep"),
        concat(lit("quality:"), col("first_failed")))
      .when(!col("_surv_d"), "duplicate")
      .when(!col("_surv_c"), "contaminated")
      .when(!col("_surv_s"), "sampled_out")
      .otherwise("kept")
    staged.groupBy(col("source"), reason.as("reason"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("example_id"))
  }
}
