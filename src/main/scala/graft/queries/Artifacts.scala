package graft.queries

import graft.functions.{Bpe, Dedup, IVF, Money, Multimodal, PCA, PQ, SuffixArray, TextAnalysis}
import graft.sources.{Layout, Tables}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, split}
import scala.util.{Failure, Success, Try}

/** One offline artifact: built at most once per dataset dir in this JVM
  * and memoised for the life of the JVM. Each artifact owns its memo —
  * builds nest (a PQ residual model trains over the IVF model), and
  * `ConcurrentHashMap.computeIfAbsent` forbids a build from updating the
  * map it is building into. */
final class Artifact[A] private[queries] (val name: String,
    build: (SparkSession, String) => A) {
  private val memo = new ConcurrentHashMap[String, A]()
  def apply(s: SparkSession, dir: String): A =
    memo.computeIfAbsent(dir, _ => {
      Artifacts.builds.incrementAndGet()
      build(s, dir)
    })
}

/** The offline artifacts the catalog reads: trained models, landed
  * indexes and layouts, staged fixtures. A deployment builds each once
  * and every consumer reads it, so the timed entries measure the work
  * their operator claims, not the build (`graft.Bench` builds them all
  * in warmup through [[ensureAll]] and reports each build's seconds on
  * its own).
  *
  * Scratch discipline: every landed path is
  * `target/tmp/<name>-<sanitised dataset dir>-pid<pid>` ([[scratchPath]]),
  * unique per (name, dataset dir, JVM) — two concurrent runs (Verify and
  * an sbt test JVM both construct catalog queries) must never race on
  * one directory. The paths and the lookup table's warehouse dir are
  * deleted when the JVM exits; another JVM's are never touched. Nothing
  * is built when this object initialises. */
object Artifacts {

  private val declared = scala.collection.mutable.ArrayBuffer.empty[Artifact[_]]

  private def declare[A](name: String)(
      build: (SparkSession, String) => A): Artifact[A] = {
    val a = new Artifact(name, build)
    declared += a
    a
  }

  /** An artifact landed at its [[scratchPath]]; the value is the path. */
  private def landed(name: String)(
      write: (SparkSession, String, String) => Unit): Artifact[String] =
    declare(name) { (s, dir) =>
      val path = scratchPath(name, dir)
      write(s, dir, path)
      path
    }

  /** Every declared artifact, dependencies before their dependents. */
  def all: Seq[Artifact[_]] = declared.toSeq

  /** Builds started in this JVM, across all artifacts (memo hits do not
    * count). */
  private[graft] val builds = new java.util.concurrent.atomic.AtomicLong()

  /** Builds every artifact over `dir`, each under its own catch (one
    * failed build never skips the rest), and returns each one's build
    * seconds (about zero when already built in this JVM) or its failure. */
  def ensureAll(s: SparkSession, dir: String): Seq[(String, Try[Double])] =
    all.map { a =>
      val t0 = System.nanoTime()
      a.name -> (try { a(s, dir); Success((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable => Failure(e) })
    }

  private val pidTag = s"pid${java.lang.ProcessHandle.current().pid()}"

  private def key(name: String, dir: String): String =
    s"$name-${dir.replaceAll("[^A-Za-z0-9._-]", "_")}-$pidTag"

  /** Repo-local scratch dir for `name` over dataset `dir`, unique per
    * JVM, deleted when the JVM exits. Also the seat of the per-query
    * scratch outputs the side-effecting catalog entries write. */
  def scratchPath(name: String, dir: String): String = {
    sweepAtExit(java.nio.file.Paths.get("target/tmp"))
    s"target/tmp/${key(name, dir)}"
  }

  /** Warehouse table name for `name` over dataset `dir`: the
    * [[scratchPath]] key as an identifier. */
  def tableName(name: String, dir: String): String =
    key(name, dir).replaceAll("[^A-Za-z0-9_]", "_")

  private val sweepRoots = ConcurrentHashMap.newKeySet[java.nio.file.Path]()
  private lazy val exitHook = sys.addShutdownHook(sweepRoots.forEach(sweepOwn(_)))
  private def sweepAtExit(root: java.nio.file.Path): Unit = {
    exitHook
    sweepRoots.add(root.toAbsolutePath)
  }

  /** Deletes the entries of `root` that this JVM's key names (`-pid<pid>`
    * or `_pid<pid>` last), never another pid's. */
  private[graft] def sweepOwn(root: java.nio.file.Path): Unit =
    Option(root.toFile.listFiles()).toSeq.flatten
      .filter(f => f.getName.endsWith(s"-$pidTag") || f.getName.endsWith(s"_$pidTag"))
      .foreach(f => scala.util.Using(java.nio.file.Files.walk(f.toPath))(
        _.sorted(java.util.Comparator.reverseOrder())
          .forEach(java.nio.file.Files.delete(_))))

  // ---- trained models (driver-side, memoised for the life of the JVM) ----

  /** IVF coarse quantizer. Shared between the catalog query and its
    * dynamic oracle: k-means centroid averages come from a floating-point
    * aggregation whose merge order Spark does not pin, so two train()
    * calls could differ in ulps — one shared model keeps the query and
    * the oracle literally identical (and amortizes training). */
  val ivfModel: Artifact[IVF.Model] = declare("ivf-model") { (s, dir) =>
    IVF.train(Tables.embeddings(s, dir), "embedding", "vec_id", k = 8)
  }

  /** PCA (k=4 components over the 64-dim embeddings) — the [[ivfModel]]
    * contract, though the integer moment aggregation makes PCA.train
    * bit-stable across runs regardless. */
  val pcaModel: Artifact[PCA.Model] = declare("pca-model") { (s, dir) =>
    PCA.train(Tables.embeddings(s, dir), "embedding", dim = 64, k = 4)
  }

  /** PQ codebooks (m=8 subspaces, ks=16 codes) — model-sized driver
    * state, the [[ivfModel]] contract. */
  val pqModel: Artifact[PQ.Model] = declare("pq-model") { (s, dir) =>
    PQ.train(Tables.embeddings(s, dir), "embedding", "vec_id", m = 8, ks = 16)
  }

  /** Residual PQ codebooks, trained on coarse-cell residuals. */
  val pqResModel: Artifact[PQ.Model] = declare("pq-res-model") { (s, dir) =>
    PQ.trainResidual(Tables.embeddings(s, dir), "embedding", "vec_id",
      ivfModel(s, dir), m = 8, ks = 16)
  }

  /** Learned BPE merge table — the same offline-model stance as
    * [[ivfModel]]: a deployment learns the vocabulary once and every
    * consumer (census, fertility, encoders) applies it. The merge list is
    * k rows of strings — model metadata. */
  val bpeMerges: Artifact[Seq[(String, String)]] = declare("bpe-merges") { (s, dir) =>
    Bpe.learn(Tables.documents(s, dir), "text", steps = 8)
      .orderBy("step").select("lhs", "rhs")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
  }

  // ---- landed indexes and layouts (the value is the path) ----

  /** Cell-partitioned IVF layout (the offline index build
    * `IVF.writeIndexed` models): probe queries over it are partition
    * PRUNING, the on-disk seat of the 100 TB scale story. */
  val ivfIndexedPath: Artifact[String] = landed("ivf-indexed") { (s, dir, path) =>
    IVF.writeIndexed(
      Tables.embeddings(s, dir), "embedding", "vec_id", ivfModel(s, dir), path)
  }

  /** Two-stage IVF layout: a base batch via `writeIndexed`, then an
    * increment APPENDED into the same cell-partitioned layout by the
    * frozen quantizer (`IVF.appendIndexed`) — the incremental-ingest path
    * whose probe results must be indistinguishable from a single-shot
    * index. */
  val ivfIncrementalPath: Artifact[String] = landed("ivf-incremental") { (s, dir, path) =>
    val e = Tables.embeddings(s, dir)
    val model = ivfModel(s, dir)
    IVF.writeIndexed(
      e.filter(col("vec_id") % 5 =!= 0), "embedding", "vec_id", model, path)
    IVF.appendIndexed(
      e.filter(col("vec_id") % 5 === 0), "embedding", "vec_id", model, path)
  }

  /** Raw-code PQ index layout (vec_id, ivf_cell, pq_codes) — offline
    * index build; ADC searches read stored codes. */
  val pqRawEncodedPath: Artifact[String] = landed("pq-raw-indexed") { (s, dir, path) =>
    PQ.encodeWithCells(Tables.embeddings(s, dir),
        "embedding", "vec_id", ivfModel(s, dir), pqModel(s, dir))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("ivf_cell").parquet(path)
  }

  /** Residual-encoded IVF-PQ index layout — the offline index build;
    * probes read stored codes only. */
  val pqResEncodedPath: Artifact[String] = landed("pq-res-indexed") { (s, dir, path) =>
    PQ.writeResidualIndexed(Tables.embeddings(s, dir),
      "embedding", "vec_id", ivfModel(s, dir), pqResModel(s, dir), path)
  }

  /** Landed-artifact layout (control the output partitioning of
    * anything you write): the SA builder's scale-adaptive range width
    * legitimately finishes at a handful of partitions on small corpora,
    * but a tiny parquet file is ONE row group and a row group is
    * unsplittable — so the landed file count becomes a hard cap on every
    * consumer's scan parallelism (measured round 18: the 4-file landing
    * held suffix_dup_spans' LCP stages to 4 tasks, ~12 s of task time
    * each). Land rank-keyed artifacts range-clustered on the rank at
    * ~1 M rows per file, floored at the session's core count: the size
    * term dominates at scale (file sizing by volume), the cores floor
    * only lifts artifacts too small to matter, and rank-range clustering
    * keeps min/max stats tight for rank-bounded readers. The extra
    * count + range exchange run at LANDING time (warmup), not on any
    * timed gate. */
  private def landRankClustered(df: DataFrame, rankCol: String,
      path: String): Unit = {
    val n = df.count()
    val width = math.max(
      df.sparkSession.sparkContext.defaultParallelism.toLong,
      (n + (1L << 20) - 1) / (1L << 20)).toInt
    df.repartitionByRange(width, col(rankCol))
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Suffix-array build (doc_id, pos, suffix_rank) — the one-SA-many-
    * passes shape of the Lee et al. 2022 exact-substring pipeline and the
    * offline-index stance of [[pqRawEncodedPath]]: a deployment builds
    * the array once and every derived pass (dup-span census, repeat
    * census, span removal) reads it. Round 10 paid the O(log maxLCP)
    * construction THREE times per catalog run — 30% of the whole close
    * bench; the `suffix_ranks` gate still times the construction itself
    * (that cost IS the operator), while the derived gates consume this
    * shared build. */
  val suffixRanksPath: Artifact[String] = landed("suffix-ranks") { (s, dir, path) =>
    landRankClustered(SuffixArray.suffixRanks(
      Tables.documents(s, dir), "doc_id", "text"), "suffix_rank", path)
  }

  def suffixRanksFrame(s: SparkSession, dir: String): DataFrame =
    Tables.parquet(s, suffixRanksPath(s, dir))

  /** Rank-level max-neighbor-LCP stats landed next to the SA build — the
    * classic SA + LCP index pair. The DETECTOR gate (suffix_dup_spans)
    * still computes these stats live (that computation IS the detector);
    * the REMOVAL gate consumes this landed copy, the Lee et al.
    * detect-once / cut-from-findings pipeline shape — so each
    * computation is timed exactly once across the catalog. */
  val suffixLcpPath: Artifact[String] = landed("suffix-lcp") { (s, dir, path) =>
    SuffixArray.rankMaxLcp(suffixRanksFrame(s, dir),
        Tables.documents(s, dir).select(col("doc_id").as("_d"),
          split(col("text"), " ").as("_tk")), "doc_id", cap = 30)
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Merge sidecar of the SA build (one row per rank: rep doc/pos,
    * suffix length, seed prefix) — landed next to the array like the LCP
    * stats, so the incremental merge's round 1 is a plain sidecar scan. */
  val suffixMergeRepsPath: Artifact[String] = landed("suffix-merge-reps") { (s, dir, path) =>
    // same landing layout as the SA itself ([[landRankClustered]]):
    // AQE coalesces the sidecar's small build shuffles to a handful of
    // partitions, and the incremental gate's round-1 sidecar scans
    // would inherit that as their parallelism cap
    landRankClustered(SuffixArray.suffixMergeReps(
        suffixRanksFrame(s, dir), Tables.documents(s, dir),
        "doc_id", "text"), "_or", path)
  }

  /** KN bigram LM (train = even-doc_id half) — the pretrained scorer's
    * PRODUCTION seat (round-11 verdict #3): the LM is a build artifact
    * like [[bpeMerges]] / [[ivfModel]], and the timed pretrained gates
    * measure APPLY only, the CCNet per-crawl cost. */
  val knModelPath: Artifact[String] = landed("kn-bigram") { (s, dir, path) =>
    TextAnalysis.knBigramModelWrite(
      TextAnalysis.knBigramTrain(
        Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(2)) === 0),
        "text"), path)
  }

  /** Trigram KN LM — same train half and stance as [[knModelPath]], one
    * order up. */
  val kn3ModelPath: Artifact[String] = landed("kn-trigram") { (s, dir, path) =>
    TextAnalysis.kn3ModelWrite(
      TextAnalysis.kn3Train(
        Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(2)) === 0),
        "text"), path)
  }

  /** IN-DOMAIN KN bigram LM (train = even-doc_id half, lang='en') — the
    * Moore-Lewis domain side; the general side is [[knModelPath]]. */
  val knDomainModelPath: Artifact[String] = landed("kn-bigram-domain") { (s, dir, path) =>
    TextAnalysis.knBigramModelWrite(
      TextAnalysis.knBigramTrain(
        Tables.documents(s, dir)
          .filter(pmod(col("doc_id"), lit(2)) === 0 && col("lang") === "en"),
        "text"), path)
  }

  /** Key-bucketed documents table for the point-lookup gate; the value is
    * the warehouse table name ([[tableName]]). */
  val lookupTable: Artifact[String] = declare("graft_lookup") { (s, dir) =>
    val name = tableName("graft_lookup", dir)
    Layout.writeKeyBucketed(Tables.documents(s, dir), "doc_id", buckets = 16, name)
    sweepAtExit(java.nio.file.Paths.get(
      s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")))
    name
  }

  /** Day-partitioned rollup of partial aggregate states — the OFFLINE
    * incremental-view-maintenance build (each new day aggregates once
    * into its own partition as it arrives; at 100 TB this is the nightly
    * maintenance job, not query work). The timed agg_incremental_rollup /
    * agg_rollup_cascade entries measure what the operator actually
    * claims: the pruned partial-state merge. */
  val rollupPath: Artifact[String] = landed("rollup") { (s, dir, path) =>
    Layout.writeDailyRollup(Tables.events(s, dir), path)
  }

  /** Day-partitioned HLL sub-sketch layout — the distinct-cardinality
    * analogue of [[rollupPath]]. */
  val hllRollupPath: Artifact[String] = landed("hll-rollup") { (s, dir, path) =>
    Layout.writeDailyHllSketch(Tables.events(s, dir), path, col("user_id"))
  }

  /** Day-partitioned log-histogram sub-sketch layout — the distribution
    * analogue of [[hllRollupPath]]. */
  val logHistRollupPath: Artifact[String] = landed("loghist-rollup") { (s, dir, path) =>
    Layout.writeDailyLogHistSketch(Tables.events(s, dir), path,
      Money.cents(col("value")))
  }

  /** Band-partitioned MinHash LSH index over the accepted corpus
    * (doc_id % 7 != 0 — the same split `dedup_incremental` uses;
    * `Dedup.writeBandIndex` models the offline index build): the
    * incremental near-dup probe joins a new batch's band keys against
    * this persisted layout without re-signaturing the corpus. */
  val bandIndexPath: Artifact[String] = landed("band-index") { (s, dir, path) =>
    Dedup.writeBandIndex(
      Tables.documents(s, dir).filter(col("doc_id") % 7 =!= 0),
      "doc_id", "text", path, k = 3, numHashes = 16, bandRows = 2)
  }

  // ---- staged fixtures ----

  /** Real-PNG payload table: media bytes live IN parquet next to their
    * ids (the multimodal layout stance — payloads columnar, metadata
    * queryable), so the decode query measures the CODEC pass over stored
    * bytes, not fixture synthesis. */
  val pngFixturePath: Artifact[String] = landed("png-fixtures") { (s, dir, path) =>
    Multimodal.synthesizePng(Tables.documents(s, dir).select("doc_id"), "doc_id")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Corpus dHash signature index (doc_id % 7 != 0 — the accepted set the
    * incremental splits share): the offline decode+hash build
    * `Multimodal.dhashAgainstIndex` probes without ever re-decoding the
    * corpus. 16 bytes a row. */
  val dhashIndexPath: Artifact[String] = landed("dhash-index") { (s, dir, path) =>
    Multimodal.imageDHash(
        Tables.parquet(s, pngFixturePath(s, dir)).filter(col("doc_id") % 7 =!= 0),
        "doc_id", "png")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Real-WAV payload table — the audio counterpart of
    * [[pngFixturePath]]. */
  val wavFixturePath: Artifact[String] = landed("wav-fixtures") { (s, dir, path) =>
    Multimodal.synthesizeWav(Tables.documents(s, dir).select("doc_id"), "doc_id")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }
}
