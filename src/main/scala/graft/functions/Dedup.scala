package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard.
  *
  * Scale design (the point of each choice):
  *  - exact dedup is a hash-groupBy on a 128-bit digest — one shuffle keyed
  *    by digest, perfectly partitionable, no skew (md5 is uniform);
  *  - MinHash+LSH turns the O(n²) near-dup problem into
  *    shingle -> signature (narrow) -> band explode -> bucket join (shuffle
  *    keyed by band value) -> candidate verify. At 100 TB only the band
  *    tuples shuffle (n_docs × n_bands small rows), never text × text;
  *  - SimHash is a single groupBy over exploded tokens, then a chunk-keyed
  *    self-join (pigeonhole: hamming<=k needs chunks=k+1);
  *  - verification (exact Jaccard on candidate pairs) touches only the
  *    candidate set, so false positives cost, false negatives are bounded by
  *    band math.
  */
object Dedup {

  // ---- exact ----

  /** Exact dedup digest groups: digest, surviving (min) id, multiplicity. */
  def exactGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup: keep the lowest-id row per distinct text.
    *
    * NOT a digest-keyed window: a window puts an entire exact-dup clique in
    * one task, and common boilerplate (empty page, robots text) duplicated
    * 10⁷-10⁸× is a single-task funnel at corpus scale. A `min_by`-struct
    * hash aggregate instead: the map-side partial keeps ONE row per digest
    * per partition, so the digest-keyed exchange moves at most
    * numPartitions rows per clique — and unlike a bounded-heap operator
    * keyed by a near-unique key (digest cardinality ≈ row count), Spark's
    * aggregate falls back to sort-based spilling when the per-partition
    * key map outgrows memory. The k>1 sibling [[capDuplicates]] keeps the
    * two-stage heap (an aggregate cannot emit k rows per group). */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val cols = df.columns.toSeq
    df.groupBy(md5(col(textCol)).as("_digest"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("_row"))
      .select(cols.map(c => col("_row." + c).as(c)): _*)
  }

  /** Soft dedup: keep at most `maxCopies` rows per exact-content group
    * (lowest ids survive, `copy_rank` = 1-based rank within the group).
    * Pipelines that weight common documents UP keep 2-3 copies instead of
    * hard-deduplicating; this is that knob. Same two-stage bounded-heap
    * shape as [[exactDedup]] (k=maxCopies): the final pass's 1-based heap
    * rank IS `copy_rank` — identical to the window formulation's
    * row_number because the order (id) is total — and no task ever holds
    * more than k×numPartitions rows of any clique. */
  def capDuplicates(df: DataFrame, textCol: String, idCol: String,
      maxCopies: Int): DataFrame = {
    require(maxCopies >= 1, "maxCopies must be >= 1")
    import graft.plans.TopKPerKey
    val withD = df.withColumn("_digest", md5(col(textCol)))
    val partial = TopKPerKey.perKeyPartial(withD, Seq("_digest"), Seq((idCol, true)), maxCopies)
    TopKPerKey.perKey(partial, Seq("_digest"), Seq((idCol, true)), maxCopies, "copy_rank")
      .drop("_digest")
  }

  /** Incremental exact dedup: rows of `incoming` whose content hash is NOT
    * already in `corpus` — the nightly-ingest step (dedup the new crawl
    * against everything already accepted). LEFT ANTI join keyed by the
    * 32-hex-char digest: the corpus side reduces to distinct hashes before
    * the join, so only digests shuffle, never text. Compose with
    * [[exactDedup]] on the survivors to also dedup within the batch. */
  def dedupAgainstCorpus(incoming: DataFrame, corpus: DataFrame,
      textCol: String): DataFrame = {
    // a non-nullable key gives the optimizer no IsNotNull guard to infer
    // and push into the corpus scan as a second md5 per row; "" never
    // equals a 32-char digest, so a NULL text still matches nothing
    val seen = corpus.select(coalesce(md5(col(textCol)), lit("")).as("_seen_h"))
      .distinct()
    incoming.join(seen, md5(col(textCol)) === col("_seen_h"), "left_anti")
  }

  // ---- shingles / jaccard ----

  /** k-word shingles (distinct), whitespace-tokenized; documents shorter
    * than k words contribute their full text as the single shingle.
    * Implemented as a native one-pass expression ([[graft.plans.WordShingles]])
    * — the equivalent HOF composition re-tokenizes per element. */
  def shingles(text: Column, k: Int): Column =
    graft.plans.WordShingles(text, k)

  /** Exact Jaccard similarity between two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** All pairs within `df` (same `blockCol` block) with word-k-shingle
    * Jaccard >= threshold, via an INVERTED-INDEX join: explode each doc's
    * distinct shingle set, equi-join on (block, shingle), count matching
    * grams per pair — |A∩B| exactly, since shingle sets are distinct — and
    * derive |A∪B| = |A| + |B| - |A∩B|. Only pairs that actually share a
    * gram ever materialize (the blocked doc×doc form compares every
    * same-block pair and intersects two full arrays per comparison — on a
    * low-cardinality block that is quadratic in the BLOCK, measured 9.6×
    * superlinear at 10×; this form's shuffle is keyed by the gram, and its
    * pair set is the overlap graph, not the block square). Requires
    * threshold > 0 (zero-overlap pairs never materialize, exactly the
    * pairs a positive threshold discards). */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, k: Int, threshold: Double): DataFrame = {
    require(threshold > 0, "inverted-index jaccard needs threshold > 0")
    // persisted: both posting-list sides of the self-join read the index
    val ex = shingleIndex(df, idCol, textCol, blockCol, k)
      .transform(Caches.operatorPersist)
    val a = ex.select(col("blk"), col("_gid").as("id_a"), col("n_sh").as("n_a"), col("g"))
    val b = ex.select(col("blk"), col("_gid").as("id_b"), col("n_sh").as("n_b"), col("g"))
    a.join(b, Seq("blk", "g")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "n_a", "n_b").agg(count(lit(1)).as("n_common"))
      .withColumn("jaccard", col("n_common").cast("double") /
        (col("n_a") + col("n_b") - col("n_common")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Directional containment C(A in B) = |A∩B| / |A| over k-word shingle
    * sets — the sub-document duplication measure: jaccard stays low when a
    * short doc is wholly embedded in a long one, containment does not.
    * Same inverted-index shape as [[jaccardPairs]] (shuffle keyed by the
    * gram, pair set = the overlap graph); emits BOTH directions of each
    * unordered pair since containment is asymmetric. Requires
    * threshold > 0. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, k: Int, threshold: Double): DataFrame = {
    require(threshold > 0, "inverted-index containment needs threshold > 0")
    // persisted: both posting-list sides of the self-join read the index
    val ex = shingleIndex(df, idCol, textCol, blockCol, k)
      .transform(Caches.operatorPersist)
    val a = ex.select(col("blk"), col("_gid").as("id_a"), col("n_sh").as("n_a"), col("g"))
    val b = ex.select(col("blk"), col("_gid").as("id_b"), col("g"))
    a.join(b, Seq("blk", "g")).filter(col("id_a") =!= col("id_b"))
      .groupBy("id_a", "id_b", "n_a").agg(count(lit(1)).as("n_common"))
      .withColumn("containment", col("n_common").cast("double") / col("n_a"))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /** Corpus-level provenance overlap: pairwise k-gram Jaccard between
    * GROUPS of documents (sources, dumps, crawl snapshots) over each
    * group's distinct shingle SET — the planning signal for which corpus
    * slices are worth cross-deduplicating and which are disjoint. Same
    * inverted-index shape as [[jaccardPairs]] one level up: the shuffle is
    * keyed by the gram, the pair table is #groups² at most (tiny — groups
    * are sources, not documents), and |A∪B| derives from the per-group
    * distinct counts. All integers plus one exact division. */
  def groupOverlap(df: DataFrame, groupCol: String, textCol: String,
      k: Int): DataFrame = {
    // persisted: the distinct (group, gram) frame feeds the size aggregate
    // AND both sides of the overlap self-join — four evaluations uncached
    val sg = df.select(col(groupCol).as("grp"),
        explode(shingles(col(textCol), k)).as("g"))
      .distinct()
      .transform(Caches.operatorPersist)
    val sizes = sg.groupBy("grp").agg(count(lit(1)).as("n"))
    val a = sg.select(col("grp").as("grp_a"), col("g"))
    val b = sg.select(col("grp").as("grp_b"), col("g"))
    a.join(b, Seq("g")).filter(col("grp_a") < col("grp_b"))
      .groupBy("grp_a", "grp_b").agg(count(lit(1)).as("n_shared"))
      .join(sizes.select(col("grp").as("grp_a"), col("n").as("n_a")), Seq("grp_a"))
      .join(sizes.select(col("grp").as("grp_b"), col("n").as("n_b")), Seq("grp_b"))
      .withColumn("jaccard", col("n_shared").cast("double") /
        (col("n_a") + col("n_b") - col("n_shared")))
      .select("grp_a", "grp_b", "n_a", "n_b", "n_shared", "jaccard")
  }

  /** Sketch-merge group similarity — [[groupOverlap]]'s scale sibling:
    * per-GROUP MinHash signatures (min over every member document's grams)
    * and the pairwise agreement fraction as the Jaccard estimate. The
    * point at 100 TB: min is associative, so the per-group signature is a
    * partial-aggregable sketch — numHashes longs per group cross the
    * shuffle, never gram sets — and sketches of corpus slices computed on
    * different days MERGE by element-wise min without touching the data
    * again. Estimation error is the standard sqrt(J(1-J)/numHashes). The
    * base hash is the md5-u64 slice (not xxhash) so an external engine
    * can recompute every signature from scratch — the same trick
    * [[simhash]] uses for its oracle. */
  def groupMinhashSimilarity(df: DataFrame, groupCol: String,
      textCol: String, k: Int, numHashes: Int): DataFrame = {
    val coeffs = minhashCoeffs(numHashes)
    val hashed = df.select(col(groupCol).as("grp"),
        explode(shingles(col(textCol), k)).as("_sh"))
      .select(col("grp"),
        pmod(Sampling.hashSlice32(col("_sh")), lit(MinhashPrime)).as("_h"))
    val mins = coeffs.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(lit(a) * col("_h") + lit(b), lit(MinhashPrime))).as(s"m$i")
    }
    val sigs = hashed.groupBy(col("grp")).agg(mins.head, mins.tail: _*)
    val aS = sigs.select(col("grp").as("grp_a") +:
      (0 until numHashes).map(i => col(s"m$i").as(s"a$i")): _*)
    val bS = sigs.select(col("grp").as("grp_b") +:
      (0 until numHashes).map(i => col(s"m$i").as(s"b$i")): _*)
    val agree = (0 until numHashes)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0): Column)
      .reduce(_ + _)
    // #groups² pair table over numHashes-long sketches — metadata-sized
    aS.crossJoin(broadcast(bS)).filter(col("grp_a") < col("grp_b"))
      .withColumn("n_agree", agree.cast("long"))
      .withColumn("est_jaccard",
        col("n_agree").cast("double") / lit(numHashes.toDouble))
      .select("grp_a", "grp_b", "n_agree", "est_jaccard")
  }

  /** Exploded (block, gram) posting list with each doc's distinct-shingle
    * count — the shared inverted index behind [[jaccardPairs]] /
    * [[containmentPairs]]. */
  private def shingleIndex(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, k: Int): DataFrame = {
    df.select(col(idCol).as("_gid"), col(blockCol).as("blk"),
        shingles(col(textCol), k).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .select(col("blk"), col("_gid"), col("n_sh"), explode(col("sh")).as("g"))
  }

  /** Corpus-wide duplicated-span census: every k-word shingle appearing in
    * at least `minDocs` distinct documents, with its document frequency —
    * the exact-substring-duplication primitive (the hash-gram counterpart
    * of the suffix-array pass in Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", 2022).
    *
    * Scale: explode is narrow; the single shuffle is keyed by the shingle
    * itself — uniform (gram frequencies are Zipfian but the partial
    * map-side countDistinct aggregate bounds per-key traffic to the number
    * of distinct (gram, doc) pairs per mapper). Never joins text×text. */
  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, minDocs: Int): DataFrame =
    df.select(col(idCol).as("_id"), explode(shingles(col(textCol), k)).as("sh"))
      .groupBy("sh").agg(countDistinct(col("_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)

  /** REMOVE corpus-duplicated spans from every document — the removal half
    * of the Lee et al. 2022 pipeline ([[duplicatedSpans]] is the census
    * half): a word is dropped when ANY k-gram covering it occurs in >=
    * minDocs distinct documents. Documents shorter than k words have no
    * k-gram and pass through unchanged. Returns (id, clean_text,
    * n_removed).
    *
    * Plan at scale: positional k-grams are sliced from one materialized
    * token array per doc (narrow); a LEFT SEMI join against the census
    * keys the only shuffle by the gram and moves just the HIT positions
    * (the census side is grams with df >= minDocs — a sliver of the
    * vocabulary, and semi-join probes never duplicate rows); covered word
    * indices aggregate per doc (bounded by the doc's own token count);
    * the rebuild filters the token array by index — a narrow map. Never
    * text×text, never a broadcast of anything corpus-sized. */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, minDocs: Int): DataFrame = {
    val dup = duplicatedSpans(df, idCol, textCol, k, minDocs).select("sh")
    val grams = positionalWindows(df, idCol, textCol, k)
      .select(col(idCol), col("_p"), concat_ws(" ", col("_w")).as("sh"))
    val covered = grams.join(dup, Seq("sh"), "left_semi")
      .select(col(idCol), explode(sequence(col("_p"), col("_p") + lit(k - 1))).as("_j"))
      .groupBy(idCol).agg(collect_set(col("_j")).as("_cov"))
    rebuildUncovered(df, covered, idCol, textCol)
  }

  /** Every position's k-token window of the space-split text: (idCol, _p
    * 1-based start, _w token array). A text shorter than k tokens (or
    * null) has none. */
  private[graft] def positionalWindows(df: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame =
    df.select(col(idCol), split(col(textCol), " ").as("_tk"))
      .select(col(idCol), col("_tk"),
        explode(when(size(col("_tk")) >= k,
            sequence(lit(1), size(col("_tk")) - (k - 1)))
          .otherwise(array().cast("array<int>"))).as("_p"))
      .select(col(idCol), col("_p"), slice(col("_tk"), col("_p"), lit(k)).as("_w"))

  /** The rebuild every span-removal form shares: `covered` is (idCol,
    * _cov) with `_cov` the set of 1-based covered token indices of the
    * space-split text; a document absent from it passes through verbatim.
    * Kept indices = all positions minus covered ones, indexed back into
    * the token array. array_except builds one hash set over _cov and
    * streams the position sequence through it — O(n + |cov|) per document
    * (and preserves the ascending order of its first argument), where a
    * per-token array_contains scan would be O(n × |cov|): a 100k-token doc
    * that is mostly duplicated spans would pay ~10¹⁰ comparisons in one
    * row's evaluation. Returns (id, clean_text, n_removed). */
  private[graft] def rebuildUncovered(df: DataFrame, covered: DataFrame,
      idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), col(textCol), split(col(textCol), " ").as("_toks"))
      .join(covered, Seq(idCol), "left")
      .select(col(idCol),
        when(col("_cov").isNull, col(textCol)).otherwise(concat_ws(" ",
          transform(
            array_except(sequence(lit(1), size(col("_toks"))), col("_cov")),
            j => element_at(col("_toks"), j))))
          .as("clean_text"),
        when(col("_cov").isNull, lit(0))
          .otherwise(size(col("_cov"))).cast("int").as("n_removed"))

  // ---- MinHash + LSH ----

  /** Deterministic (a, b) coefficients for the minhash family, from a fixed
    * LCG seed — literals in the plan, identical across runs/retries. */
  def minhashCoeffs(numHashes: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    var s = seed
    def next(): Long = { s = (s * 6364136223846793005L + 1442695040888963407L); (s >>> 33) }
    (0 until numHashes).map { _ => (next() % MinhashPrime + 1, next() % MinhashPrime) }
  }

  /** Mersenne prime 2^31-1: keeps a*h+b within a long. */
  val MinhashPrime: Long = 2147483647L

  /** MinHash signatures as (id, sig array<long>): ONE narrow native
    * expression per document ([[graft.plans.MinHashSig]] — tokenize,
    * shingle, hash, all minima in a single pass), fused into the scan with
    * NO shuffle. A signature is a pure per-document function, so at 100 TB
    * nothing should move for this stage; the banding join downstream is the
    * only exchange in the dedup pipeline. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int): DataFrame =
    df.select(col(idCol).as("id"),
      graft.plans.MinHashSig(col(textCol), k, numHashes).as("sig"))

  /** Relational formulation of [[minhashSignatures]] (numHashes separate
    * min() aggregates packed to an array) — kept as the cross-check for the
    * native expression; must be bit-identical (pinned by test). */
  def minhashSignaturesRelational(df: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int): DataFrame = {
    val coeffs = minhashCoeffs(numHashes)
    val hashed = df.select(col(idCol).as("id"),
        explode(shingles(col(textCol), k)).as("_sh"))
      .select(col("id"), pmod(xxhash64(col("_sh")), lit(MinhashPrime)).as("_h"))
    val mins = coeffs.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(lit(a) * col("_h") + lit(b), lit(MinhashPrime))).as(s"m$i")
    }
    hashed.groupBy(col("id")).agg(mins.head, mins.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** MinHash signatures over the md5-u64 hash family, exploded to
    * (id, hash_idx, sig) rows — the GATE form whose every minimum an
    * external engine recomputes from scratch (md5 is SQL-computable where
    * the production family's xxhash64 is not; same shingles, same affine
    * family, only the base hash differs). Shape: narrow explode + one
    * id-keyed aggregate + a stack unpivot. */
  def minhashSignaturesMd5(df: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int): DataFrame = {
    val coeffs = minhashCoeffs(numHashes)
    val hashed = df.select(col(idCol),
        explode(shingles(col(textCol), k)).as("_sh"))
      .select(col(idCol),
        pmod(Sampling.hashSlice32(col("_sh")), lit(MinhashPrime)).as("_h"))
    val mins = coeffs.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(lit(a) * col("_h") + lit(b), lit(MinhashPrime))).as(s"m$i")
    }
    val sigs = hashed.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
    val stackExpr = s"stack($numHashes, " +
      (0 until numHashes).map(i => s"$i, m$i").mkString(", ") +
      ") AS (hash_idx, sig)"
    sigs.selectExpr(idCol, stackExpr)
  }

  /** LSH candidate pairs with banding (bandRows = r signature rows per
    * band): two docs are candidates iff some band's r minima all match.
    * P[candidate | jaccard s] = 1-(1-s^r)^b. Defaults (16 hashes, r=2,
    * b=8) give recall 1-2e-6 at s=0.9 and keep random low-similarity pairs
    * (s<=0.1) out of the join — with r=1, corpora with shared boilerplate
    * vocabulary degrade toward all-pairs candidates, which is exactly the
    * O(n^2) LSH exists to avoid. Band keys are hashed to one long so the
    * join shuffles (band, key) only. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      k: Int, numHashes: Int, bandRows: Int = 2): DataFrame = {
    // persisted: both sides of the band-key self-join read the index, and
    // uncached the one-pass signature aggregation runs twice per doc
    val bands = bandIndex(df, idCol, textCol, k, numHashes, bandRows)
      .transform(Caches.operatorPersist)
    val a = bands.select(col("band"), col("bkey"), col("id").as("id_a"))
    val b = bands.select(col("band"), col("bkey"), col("id").as("id_b"))
    a.join(b, Seq("band", "bkey")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exploded LSH banding of a corpus as (id, band, bkey) — the NEAR-DUP
    * INDEX: the minimal state a pipeline persists so later crawl
    * increments can be near-deduped against the accepted corpus WITHOUT
    * re-signaturing it ([[nearDupAgainstCorpus]]). Each band key hashes
    * that band's `bandRows` signature minima to one long (the band index
    * is mixed in so bands never alias). numHashes/bandRows small rows per
    * document — at 100 TB the index is ~n_docs × 8 (id, int, long) rows,
    * a sliver of the text it stands for. */
  def bandIndex(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 16, bandRows: Int = 2): DataFrame = {
    val nBands = numHashes / bandRows
    val bandKeys = array((0 until nBands).map { j =>
      xxhash64((lit(j) +: (0 until bandRows).map(r =>
        element_at(col("sig"), j * bandRows + r + 1))): _*)
    }: _*)
    minhashSignatures(df, idCol, textCol, k, numHashes)
      .select(col("id"), posexplode(bandKeys).as(Seq("band", "bkey")))
  }

  /** Persist [[bandIndex]] as parquet partitioned by `band` — the offline
    * index build (mirrors [[graft.functions.IVF.writeIndexed]]): an
    * incremental batch only probes the band partitions its own keys land
    * in, and appending a new batch's bands later is a partition-local
    * write. */
  def writeBandIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, k: Int = 3, numHashes: Int = 16, bandRows: Int = 2): Unit =
    bandIndex(df, idCol, textCol, k, numHashes, bandRows)
      .write.mode("overwrite").partitionBy("band").parquet(path)

  /** Incremental NEAR-dup: pairs (id_new, id_corp, jaccard >= threshold)
    * between an incoming batch and the already-accepted corpus, probing a
    * PERSISTED band index ([[writeBandIndex]]) instead of re-signaturing
    * the corpus — the nightly-crawl analogue of [[dedupAgainstCorpus]] for
    * near-duplicates.
    *
    * Plan at scale: only the incoming batch is signatured (narrow, fused
    * into its scan); the candidate join shuffles (band, bkey) tuples —
    * batch-sized on one side, index rows on the other; corpus TEXT is
    * touched only for candidate ids (left-semi reduction before the
    * verify join), so a 100 TB corpus contributes kilobytes per candidate
    * rather than a full pass. Exactness of the verify step matches
    * [[minhashDedupPairs]]: false positives cost one array intersect,
    * false negatives are bounded by the band math. */
  def nearDupAgainstCorpus(incoming: DataFrame, corpus: DataFrame,
      index: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 16, threshold: Double = 0.5,
      bandRows: Int = 2): DataFrame = {
    val newBands = bandIndex(incoming, idCol, textCol, k, numHashes, bandRows)
      .select(col("band"), col("bkey"), col("id").as("id_new"))
    val cands = newBands
      .join(index.select(col("band"), col("bkey"), col("id").as("id_corp")),
        Seq("band", "bkey"))
      .select("id_new", "id_corp").distinct()
    val shNew = incoming.select(col(idCol).as("id_new"),
      shingles(col(textCol), k).as("sh_a"))
    // corpus text is only shingled for ids that are actually candidates
    val corpHit = corpus.join(cands.select(col("id_corp").as(idCol)).distinct(),
      Seq(idCol), "left_semi")
    val shCorp = corpHit.select(col(idCol).as("id_corp"),
      shingles(col(textCol), k).as("sh_b"))
    cands.join(shNew, "id_new").join(shCorp, "id_corp")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_new", "id_corp", "jaccard")
  }

  /** Full MinHash-LSH near-dup pipeline with exact-Jaccard verification of
    * candidates: output pairs whose true word-k-shingle Jaccard >= threshold.
    * (The verify join re-attaches shingle sets only for candidate ids, so
    * false positives cost one array intersect each and false negatives are
    * bounded by the band math above.) */
  def minhashDedupPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 16, threshold: Double = 0.5,
      bandRows: Int = 2): DataFrame = {
    // persisted: consumed by the candidate-id reduction AND the verify
    // join chain
    val cands = minhashCandidates(df, idCol, textCol, k, numHashes, bandRows)
      .transform(Caches.operatorPersist)
    // verify-side shingles are computed ONLY for docs that appear in some
    // candidate pair (semi-join reduction) — at corpus scale candidates
    // are a sliver of the corpus, so the expensive shingle arrays never
    // materialize for the uncontested majority. Persisted because both
    // endpoint joins read it.
    val candIds = cands
      .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
    val sh = df.select(col(idCol).as("id"), shingles(col(textCol), k).as("sh"))
      .join(candIds, Seq("id"), "left_semi")
      .transform(Caches.operatorPersist)
    cands
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Exact-then-near dedup — the composition a production corpus pipeline
    * runs, and the defense against LSH's one degenerate case: exact
    * duplicates share EVERY band key, so a cluster of m identical docs
    * yields m(m-1)/2 candidate pairs in every band — quadratic in cluster
    * size (measured: 7x slowdown on a corpus where every doc has 9 exact
    * copies). Hash-groupBy exact dedup first collapses each cluster to one
    * representative (uniform md5 shuffle, perfectly scalable), then
    * near-dup LSH runs on representatives where its candidate math holds.
    * Returns near-dup pairs between representatives. */
  def nearDupPairsAfterExact(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 16, threshold: Double = 0.5,
      bandRows: Int = 2): DataFrame = {
    // the near-dup stage references the representative set three times
    // (banding + two verify joins); between pipeline stages a deployment
    // lands it in a staging table — locally, a registered persist plays
    // that role
    val reps = Caches.operatorPersist(exactDedup(df, textCol, idCol))
    minhashDedupPairs(reps, idCol, textCol, k, numHashes, threshold, bandRows)
  }

  /** Connected components over a near-dup pair set: every document gets
    * `cluster_id` = the smallest doc id reachable through pairs (singletons
    * keep their own id). Iterative min-label propagation WITH POINTER
    * JUMPING on DataFrames: each round every node first takes the min
    * label in its closed neighborhood, then follows that label to ITS
    * current label (`l'(v) = min(m(v), l(m(v)))` — the pointer-doubling
    * step of Shiloach-Vishkin / hash-to-min). Plain propagation converges
    * in Θ(diameter) rounds — a 100-node chain is 99 joins; the jump step
    * roughly halves the distance-to-root each round, giving O(log d)
    * convergence on chains (pinned by test: a 100-node path converges
    * within 15 rounds). Every label value is a node id in the same
    * component (labels start as self and only min-combine within the
    * component), so the jump join is always well-keyed.
    *
    * Each round is two id-keyed joins + one aggregate; the frame persists
    * per round is checkpointed ([[Checkpoints.eager]]) so the plan
    * lineage stays bounded no matter how many rounds a pathological graph
    * needs. The driver sees only a per-round label-sum (one decimal),
    * never data.
    *
    * Two working-set optimizations, both exact:
    *  - the loop runs over the ACTIVE subgraph only — nodes that appear in
    *    at least one edge. Every other node is its own singleton cluster
    *    by definition and joins back in one final left join. At corpus
    *    scale this is the difference between iterating over the near-dup
    *    endpoints (dup-rate × n) and iterating over all of 100 TB;
    *  - convergence is detected by the label SUM: labels start at the node
    *    id and are strictly non-increasing, so an unchanged sum is exactly
    *    "no label changed" — one aggregate on the already-persisted frame
    *    instead of a join against the previous round.
    *
    * When the active edge list fits the bounded-metadata budget
    * (`driverMaxEdges`, default 10⁶ edges ≈ 16 MB), a driver-side min-label
    * union-find replaces the loop — identical fixpoint, one job instead of
    * per-round shuffle overhead. Larger graphs take the loop unchanged. */
  def connectedComponents(nodes: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b",
      maxIters: Int = 50, driverMaxEdges: Long = 1000000L): DataFrame =
    Caches.scoped { scope =>
    // persist the PAIR list (half the rows of the doubled edge list): it
    // feeds the size decision, the fast-path collect, and both direction
    // legs of the edge union — one evaluation of the upstream pair
    // pipeline (often an expensive LSH/jaccard rebuild) total
    val p = scope.persist(pairs)
    // undirected edge list, both directions
    val edges = p.select(col(aCol).as("src"), col(bCol).as("dst"))
      .unionAll(p.select(col(bCol).as("src"), col(aCol).as("dst")))
    // Small-active-subgraph fast path: after blocking, the EDGE list is
    // usually tiny relative to the corpus (near-dup endpoints only). An
    // edge is two longs = 16 bytes, so `driverMaxEdges` bounds the collect
    // at ~16 MB — the same bounded-metadata contract as broadcasting a dim
    // table or collecting IVF centroids. Min-label union-find computes the
    // identical fixpoint (min id per component) in one pass instead of
    // Θ(log d) join rounds, each of which costs 3 shuffles + 2 actions of
    // fixed overhead (measured: 287 edges spent 2.2 s in round overhead).
    // Graphs over the threshold take the distributed loop below — the
    // 100 TB path is unchanged.
    val integralId = {
      val dt = nodes.schema(idCol).dataType
      dt == org.apache.spark.sql.types.LongType ||
        dt == org.apache.spark.sql.types.IntegerType
    }
    // decide on the pair count (half the edge rows, no union evaluated)
    val nPairs = p.count()
    if (integralId && nPairs <= driverMaxEdges) {
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      // read the PERSISTED pair frame (no upstream re-evaluation); the
      // null filter matches the distributed loop, whose joins silently
      // drop null-keyed endpoints
      p.filter(col(aCol).isNotNull && col(bCol).isNotNull)
        .select(col(aCol).cast("long"), col(bCol).cast("long"))
        .collect().foreach { row =>
          val a = row.getLong(0); val b = row.getLong(1)
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          // union by min id: the root IS the component's min label
          if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
        }
      val spark = nodes.sparkSession
      import spark.implicits._
      val labelDf = parent.keysIterator.map(id => (id, find(id))).toSeq
        .toDF("id", "_cc")
        .select(col("id").cast(nodes.schema(idCol).dataType),
          col("_cc").cast(nodes.schema(idCol).dataType))
      nodes.select(col(idCol).as("id"))
        .join(labelDf, Seq("id"), "left")
        .select(col("id"), coalesce(col("_cc"), col("id")).as("cluster_id"))
    } else {
    // active subgraph: both directions are present, so `src` alone covers
    // every node incident to an edge (registered: read by the output when
    // no round runs)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster_id", col("id"))
      .transform(Caches.operatorPersist)
    // sum over DECIMAL(38,0): exact at any id range / node count
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val d = df.agg(sum(col("cluster_id").cast("decimal(38,0)"))).head.getDecimal(0)
      if (d == null) java.math.BigDecimal.ZERO else d
    }
    var prevSum = labelSum(labels)
    var converged = labels.head(1).isEmpty // no edges at all -> all singletons
    var iter = 0
    while (!converged && iter < maxIters) {
      val viaEdges = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("cluster_id"))
      val neigh = labels.unionAll(viaEdges)
        .groupBy("id").agg(min(col("cluster_id")).as("cluster_id"))
      // pointer jump: follow the candidate label to its own current label
      // (labels only decrease, so least() keeps monotone convergence)
      val jumped = neigh
        .join(labels.select(col("id").as("cluster_id"), col("cluster_id").as("_pl")),
          Seq("cluster_id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("_pl"), col("cluster_id")))
            .as("cluster_id"))
      // checkpoint EVERY round: `labels` is referenced three times per
      // round (edge join, neighborhood union, pointer jump), so the logical
      // plan grows ~3x per round if only persist()ed — persist caches DATA
      // but Catalyst still re-analyzes the full lineage, and round N's
      // planning cost is O(3^N) (measured: rounds 0-4 at 1.0/1.3/3.2/16/30 s
      // on a 287-edge graph before this fix). A checkpoint materializes
      // AND truncates the plan; each round is materialized anyway for the
      // convergence sum, so the only extra cost is the block write — the
      // same trade GraphX/GraphFrames iterative algorithms make. Blocks are
      // reclaimed by the ContextCleaner once unreferenced; under
      // `spark.graft.checkpointDir` the round lands as reliable files.
      val next = Checkpoints.eager(jumped)
      val curSum = labelSum(next)
      labels = next
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      iter += 1
    }
    // singletons (no incident edge) rejoin as their own cluster
    nodes.select(col(idCol).as("id"))
      .join(labels.withColumnRenamed("cluster_id", "_cc"), Seq("id"), "left")
      .select(col("id"), coalesce(col("_cc"), col("id")).as("cluster_id"))
    }
    }

  /** The surviving corpus after near-dup removal: greedy keep-lowest-id —
    * a document is dropped iff it appears as the HIGHER id of some
    * near-dup pair. One anti-join against the pair set (which LSH keeps
    * tiny), no connected components: transitive chains keep their lowest
    * member and may keep later members whose only link was through a
    * removed doc — the standard one-pass trade, stated in the contract. */
  def minhashSurvivors(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 16, threshold: Double = 0.5,
      bandRows: Int = 2): DataFrame = {
    val dropped = minhashDedupPairs(df, idCol, textCol, k, numHashes,
      threshold, bandRows).select(col("id_b").as(idCol))
    df.join(dropped, Seq(idCol), "left_anti")
  }

  /** Corpus snapshot diff — the incremental-ingest primitive: classify every
    * id across two corpus versions as added / removed / changed / unchanged
    * by CONTENT HASH (md5 of the text), so "changed" is detected without
    * comparing full texts across the join. Plan: two narrow hash maps, one
    * full outer join keyed by id (uniform), a four-way CASE — no text ever
    * crosses the shuffle, only (id, 32-byte hash). At 100 TB this is how a
    * nightly corpus version is reconciled against yesterday's: the delta
    * feeds re-tokenization/re-embedding while `unchanged` short-circuits. */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).as("id"), md5(col(textCol)).as("_old_h"))
    val n = newDf.select(col(idCol).as("id"), md5(col(textCol)).as("_new_h"))
    o.join(n, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("_old_h").isNull, lit("added"))
          .when(col("_new_h").isNull, lit("removed"))
          .when(col("_old_h") =!= col("_new_h"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
  }

  /** Quality-aware survivor selection: ONE representative per near-dup
    * cluster — the member with the HIGHEST `scoreCol` (id ascending as the
    * tie-break), the policy production pipelines actually want (keep the
    * cleanest copy) where [[minhashSurvivors]] keeps the lowest id.
    * `clusters` is [[connectedComponents]] output (`id`, `cluster_id`).
    * One partial-aggregable shuffle keyed by cluster: `max_by` over the
    * (score, -id) struct — no window, no per-cluster sort. */
  def keepBestPerCluster(docs: DataFrame, idCol: String, scoreCol: String,
      clusters: DataFrame): DataFrame =
    docs.select(col(idCol).as("id"), col(scoreCol).as("_score"))
      .join(clusters, Seq("id"))
      .groupBy("cluster_id")
      .agg(
        max_by(col("id"), struct(col("_score"), (lit(0L) - col("id")))).as("keep_id"),
        count(lit(1)).as("n_members"))

  /** Leakage-safe train/val/test assignment: hash-split by near-dup
    * CLUSTER, not by document — a doc-keyed split puts two near-identical
    * documents on opposite sides of the train/test fence, and the
    * evaluation silently becomes a memorization test (the contamination
    * mode group-k-fold exists for). Every member of a connected near-dup
    * component shares its `cluster_id` (= min reachable id), so the whole
    * clique lands in ONE split; singletons hash by their own id, which
    * keeps the split fractions on the unclustered mass identical to
    * [[Sampling.splitAssign]]'s. Appends that do not join a cluster never
    * move existing assignments (same hash stability as the plain split).
    * `pairs` is any near-dup pair frame (`id_a`, `id_b`). */
  def leakageSafeSplit(df: DataFrame, idCol: String, pairs: DataFrame,
      splits: Seq[(String, Double)]): DataFrame = {
    val clusters = connectedComponents(df, idCol, pairs)
    df.select(col(idCol))
      .join(clusters.select(col("id").as(idCol), col("cluster_id")),
        Seq(idCol))
      .withColumn("split",
        Sampling.splitAssign(col("cluster_id"), splits))
  }

  // ---- SimHash ----

  /** 64-bit SimHash over whitespace tokens: bit j of the output is 1 iff the
    * sum over distinct tokens of (+1 if bit j of h(token) else -1) is > 0,
    * where h = first 8 bytes of md5 (SQL-recomputable — the gate's DuckDB
    * oracle rebuilds every signature independently). One narrow native
    * expression — no shuffle; fuses into the scan
    * ([[graft.plans.SimHash64]]). */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      out: String = "simhash"): DataFrame =
    df.select(col(idCol), graft.plans.SimHash64(col(textCol)).as(out))

  /** The relational formulation of [[simhash]] (explode -> groupBy with 64
    * aggregates — one shuffle of every (doc, token) pair). Kept for the case
    * where tokens are already exploded by an upstream stage; must produce
    * bit-identical hashes to the expression form (pinned by test). The token
    * hash parses the first 16 md5 hex chars as an unsigned 64-bit value
    * (decimal-typed until the final signed wrap — a direct decimal->long
    * cast of values >= 2^63 would overflow to NULL, not wrap). */
  def simhashRelational(df: DataFrame, idCol: String, textCol: String,
      out: String = "simhash"): DataFrame = {
    val two63 = BigDecimal(2).pow(63)
    val two64 = BigDecimal(2).pow(64)
    val u = conv(substring(md5(col("_tok")), 1, 16), 16, 10)
      .cast(org.apache.spark.sql.types.DecimalType(21, 0))
    val tok = df.select(col(idCol),
        explode(array_distinct(split(col(textCol), " "))).as("_tok"))
      .withColumn("_h",
        when(u >= lit(two63), u - lit(two64)).otherwise(u).cast("long"))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col("_h"), j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"_b$j")
    }
    val summed = tok.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val hash = (0 until 64).map { j =>
      when(col(s"_b$j") > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
    summed.select(col(idCol), hash.as(out))
  }

  /** SimHash near-dup pairs with hamming distance <= maxDist: multi-block
    * LSH keys, then exact popcount verification.
    *
    * Key width is the whole scale story. The naive pigeonhole split
    * (maxDist+1 chunks of 64/(maxDist+1) bits — 16-bit keys at maxDist=3)
    * is exact but its keys are so narrow that RANDOM collisions between
    * dissimilar docs dominate: ~4·n²/2¹⁷ candidate pairs at n docs from key
    * collisions alone — 10¹³ junk pairs through the verify join at 10⁹
    * docs. The fix is Manku et al.'s (WWW'07 §3) block-combination scheme:
    * split the 64 bits into `maxDist + keep` blocks and join once per
    * combination of `keep` blocks on the CONCATENATION of those blocks.
    * Pigeonhole still guarantees exactness — hamming <= maxDist flips bits
    * in at most maxDist blocks, so at least `keep` blocks are untouched and
    * that exact combination collides. With keep=3, maxDist=3: 6 blocks,
    * C(6,3)=20 keys of ~32 bits — 20·n²/2³³ random collisions, ~3 orders
    * of magnitude fewer than the 16-bit form for 5× the (narrow, pre-join)
    * explode. Measured at 10×-sf0.1 (tools.ProfileSimhash, last at commit
    * 0ec9a06): 196M candidate pairs (narrow) -> 52M (multi-block) at 50k
    * docs.
    *
    * Second structural choice: LSH runs over DISTINCT SIGNATURE VALUES,
    * not documents. Exact-duplicate cliques (the LSH degenerate case — an
    * m-clique agrees on every key and contributes m(m-1)/2 candidates per
    * band) collapse to ONE representative before any key is built;
    * hamming-0 pairs come from a signature-keyed equi-join instead, and
    * verified cross-signature pairs expand back to member pairs at the
    * end. The candidate join's size is set by the number of distinct
    * signatures — clique-immune by construction (where minhash needs the
    * exact-first composition, simhash gets it for free: identical text =>
    * identical signature). The pair OUTPUT is still quadratic per clique —
    * those pairs genuinely exist; callers who don't want them run
    * [[exactGroups]] semantics instead. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxDist: Int = 3): DataFrame = {
    // persisted: the signature frame (a full token-explode aggregate) is
    // read five times — both hamming-0 sides, the distinct, and both
    // member-expansion joins
    val sigs = simhash(df, idCol, textCol)
      .select(col(idCol).as("id"), col("simhash"))
      .transform(Caches.operatorPersist)
    // hamming-0 pairs: equi-join keyed by the full 64-bit signature
    val zero = sigs.select(col("simhash"), col("id").as("id_a"))
      .join(sigs.select(col("simhash"), col("id").as("id_b")), Seq("simhash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).as("hamming"))
    // multi-block LSH over unique signatures only
    val uniq = sigs.select("simhash").distinct()
    val chunked = uniq.select(col("simhash"),
      posexplode(multiBlockKeys(maxDist)).as(Seq("combo", "ckey")))
    val ua = chunked.select(col("combo"), col("ckey"), col("simhash").as("h_a"))
    val ub = chunked.select(col("combo"), col("ckey"), col("simhash").as("h_b"))
    val repPairs = ua.join(ub, Seq("combo", "ckey")).filter(col("h_a") < col("h_b"))
      .select("h_a", "h_b").distinct()
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))))
      .filter(col("hamming") <= maxDist)
    // expand verified signature pairs to member doc pairs
    val expanded = repPairs
      .join(sigs.select(col("simhash").as("h_a"), col("id").as("_ia")), "h_a")
      .join(sigs.select(col("simhash").as("h_b"), col("id").as("_ib")), "h_b")
      .select(least(col("_ia"), col("_ib")).as("id_a"),
        greatest(col("_ia"), col("_ib")).as("id_b"), col("hamming"))
    zero.unionAll(expanded)
  }

  /** Exact-signature groups — the SCALABLE sibling of [[simhashPairs]] for
    * clique-heavy corpora: one row per distinct signature with the
    * surviving (min) id and multiplicity, exactly [[exactGroups]] keyed by
    * the simhash instead of the md5 digest. Where the pair form's output
    * is inherently quadratic per clique (m(m-1)/2 rows for an m-clique —
    * those pairs exist), this is one partial-aggregable shuffle keyed by
    * the signature and one OUTPUT row per clique, any clique size. Compose
    * with [[simhashPairs]] over the group representatives when
    * cross-signature (hamming 1..maxDist) pairs are also needed. */
  def simhashGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    simhash(df, idCol, textCol)
      .groupBy(col("simhash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_members"))

  /** One 64-bit LSH key per block combination of a `simhash` column (the
    * combo index is mixed into the hash so key spaces of different combos
    * never alias). */
  private def multiBlockKeys(maxDist: Int): Column = {
    val keep = 3
    val nBlocks = maxDist + keep
    require(nBlocks <= 64, s"maxDist=$maxDist needs ${nBlocks} blocks > 64 bits")
    // block widths: 64 bits distributed as evenly as possible
    val widths = Array.tabulate(nBlocks)(i => 64 / nBlocks + (if (i < 64 % nBlocks) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def block(i: Int): Column =
      shiftrightunsigned(col("simhash"), offsets(i))
        .bitwiseAND(lit((1L << widths(i)) - 1))
    val combos = (0 until nBlocks).combinations(keep).toSeq
    array(combos.zipWithIndex.map { case (combo, ci) =>
      xxhash64((lit(ci) +: combo.map(block)): _*)
    }: _*)
  }

  /** Candidate pairs of the multi-block scheme BEFORE verification —
    * exposed so the collision behavior is measurable (the count against
    * the legacy narrow-chunk scheme came from `tools.ProfileSimhash`,
    * last at commit 0ec9a06). */
  private[graft] def simhashCandidates(df: DataFrame, idCol: String,
      textCol: String, maxDist: Int = 3): DataFrame = {
    val chunked = simhash(df, idCol, textCol)
      .select(col(idCol).as("id"),
        posexplode(multiBlockKeys(maxDist)).as(Seq("combo", "ckey")))
    val a = chunked.select(col("combo"), col("ckey"), col("id").as("id_a"))
    val b = chunked.select(col("combo"), col("ckey"), col("id").as("id_b"))
    a.join(b, Seq("combo", "ckey")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Soft dedup — the loss-free alternative to dropping copies: every row
    * keeps a sampling weight of 1/cluster_size (integer ppm), so each
    * exact-duplicate cluster contributes ONE effective copy to training
    * in expectation while provenance and per-copy metadata survive. The
    * cluster count rides a window over the SAME content-hash shuffle the
    * hard dedup would have keyed — one exchange, partition-parallel
    * (partitioned window, never global). */
  def softWeights(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("_h"))
    df.select(col(idCol), md5(col(textCol)).as("_h"))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .select(col(idCol), col("cluster_size"),
        expr("CAST(1000000 AS BIGINT) div cluster_size").as("weight_ppm"))
  }

  /** LSH quality report — the evaluation a team runs before trusting a
    * banding configuration at 100 TB: candidate pairs from md5-family
    * MinHash banding vs the EXACT inverted-index Jaccard pairs at
    * `threshold`, reduced to (n_exact, n_candidates, n_true_pos,
    * recall_permille, precision_permille). Theory says
    * P[candidate | jaccard s] = 1-(1-s^r)^b; this measures it on the
    * actual corpus, where shingle correlation (shared boilerplate) makes
    * theory optimistic on precision. Integer permille keeps the report
    * engine-exact. The md5 family (not production xxhash64) is used so an
    * external engine can replay every minimum — same shingles, same
    * affine family, structurally identical banding. Band keys join on the
    * r raw minima (no key hashing) — collision-free by construction. */
  def lshRecallReport(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 8, bandRows: Int = 2,
      threshold: Double = 0.5, maxDocs: Long = 100000L): DataFrame = {
    require(numHashes % bandRows == 0, "bands must tile the signature")
    // SAMPLE CONTRACT (the driverMaxEdges pattern): the exact-Jaccard side
    // below runs unblocked over its whole input — quadratic in clique
    // size, which is inherent to MEASURING recall and fine on the
    // pre-flight sample this eval is for, but catastrophic if someone
    // points it at a full 100 TB corpus. Enforce the bound instead of
    // implying it: callers with a bigger corpus pass an explicit sample
    // (e.g. df.filter(pmod(xxhash64(id), 100) === 0)) or raise maxDocs
    // deliberately.
    val nDocs = df.count()
    require(nDocs <= maxDocs,
      s"lshRecallReport is a sample-sized evaluation (exact all-pairs " +
        s"Jaccard side): got $nDocs docs > maxDocs=$maxDocs — pass a " +
        s"sample, or raise maxDocs explicitly if the quadratic cost is " +
        s"intended")
    val exactPairs = jaccardPairs(df.withColumn("_blk", lit(1)),
        idCol, textCol, "_blk", k, threshold)
      .select("id_a", "id_b").transform(Caches.operatorPersist)
    val keyed0 = minhashSignaturesMd5(df, idCol, textCol, k, numHashes)
      .withColumn("band", (col("hash_idx") / bandRows).cast("int"))
      .withColumn("slot", pmod(col("hash_idx"), lit(bandRows)))
    val slotCols = (0 until bandRows).map(r =>
      max(when(col("slot") === r, col("sig"))).as(s"s$r"))
    val keyed = keyed0.groupBy(col(idCol), col("band"))
      .agg(slotCols.head, slotCols.tail: _*)
    val slotNames = (0 until bandRows).map(r => s"s$r")
    val a = keyed.select(col(idCol).as("id_a") +: col("band") +:
      slotNames.map(col): _*)
    val b = keyed.select(col(idCol).as("id_b") +: col("band") +:
      slotNames.map(col): _*)
    val cands = a.join(b, "band" +: slotNames)
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct().transform(Caches.operatorPersist)
    val tp = cands.join(exactPairs, Seq("id_a", "id_b"), "left_semi")
    exactPairs.agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(cands.agg(count(lit(1)).as("n_candidates"))))
      .crossJoin(broadcast(tp.agg(count(lit(1)).as("n_true_pos"))))
      .select(col("n_exact"), col("n_candidates"), col("n_true_pos"),
        expr("CASE WHEN n_exact = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE n_true_pos * 1000 div n_exact END").as("recall_permille"),
        expr("CASE WHEN n_candidates = 0 THEN CAST(0 AS BIGINT) " +
          "ELSE n_true_pos * 1000 div n_candidates END")
          .as("precision_permille"))
  }
}
