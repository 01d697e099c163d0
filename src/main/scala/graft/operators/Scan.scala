package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scan-adjacent operators: projection, sort, limit/offset paging, count,
  * and checkpointed-resume page skipping.
  *
  * Reference semantics (all in `/root/reference/wadlabs/hub/migration/`):
  *  - `project_columns`: column list inlined into `SELECT JSON`
  *    (`datacrawler.py:135-137`). Here: `df.select` — Catalyst prunes the
  *    parquet scan to exactly these columns (`ReadSchema` in explain).
  *  - `sort_pushdown`: Solr `"sort"` key (`datacrawler.py:145-146`) → `orderBy`.
  *  - `limit_pages`: stop after `pages` pages ⇒ LIMIT pages*fetch_size
  *    (`datacrawler.py:563-564`).
  *  - `limit_fetch` cursor mode: `LIMIT fetch_size` + `"start": page*fetch_size`
  *    (`datacrawler.py:143,150-151`) ⇒ offset/limit pagination.
  *  - `scan_count`: server-side `SELECT count(*)` (`datacrawler.py:186-200`).
  *  - `scan_resume`: pages already marked DONE in Redis are skipped on restart
  *    (`datacrawler.py:202-209,252-264`). Batch Spark re-runs are
  *    deterministic so resume maps to a page-number predicate over a stable
  *    row ordering.
  *
  * Scale note: `pageNumber` uses a global `row_number()` window only to model
  * the reference's *global* page counter, which is inherently sequential. At
  * 100 TB you would never impose a global order — resume state there is the
  * file/split list (Structured Streaming's FileStreamSource checkpoint), which
  * is what `graft.streaming.Incremental` provides. These operators exist for
  * semantic parity at reference scale and for the oracle harness.
  */
object Scan {

  def projectColumns(df: DataFrame, cols: Seq[String]): DataFrame =
    if (cols.isEmpty || cols == Seq("*")) df else df.select(cols.map(col): _*)

  def sortBy(df: DataFrame, keys: Seq[(String, Boolean)]): DataFrame =
    df.orderBy(keys.map { case (c, asc) => if (asc) col(c).asc else col(c).desc }: _*)

  /** limit_pages: cap at pages * fetchSize rows (after any sort). */
  def limitPages(df: DataFrame, pages: Int, fetchSize: Int): DataFrame =
    df.limit(pages * fetchSize)

  /** limit_fetch cursor paging: rows [page*fetchSize, (page+1)*fetchSize). */
  def fetchPage(df: DataFrame, page: Int, fetchSize: Int): DataFrame =
    df.offset(page * fetchSize).limit(fetchSize)

  def count(df: DataFrame): Long = df.count()

  /** Deterministic page number per row given a total order, mirroring the
    * reference's page counter (`datacrawler.py:255`). 0-based.
    */
  def withPageNumber(df: DataFrame, orderCol: String, fetchSize: Int,
      out: String = "page"): DataFrame = {
    val w = Window.orderBy(col(orderCol))
    df.withColumn(out,
      floor((row_number().over(w) - lit(1)) / lit(fetchSize)).cast("long"))
  }

  /** SCALE-PATH page numbering: the same (orderCol-rank, fetchSize) page
    * semantics as [[withPageNumber]] with no global window anywhere near the
    * data. Plan shape:
    *   1. bucket rows by `buckets` approx-quantile range bounds of orderCol
    *      (one cheap stats pass; bounds are a driver-side array of doubles);
    *   2. count rows per bucket (a `buckets`-row aggregate) and turn the
    *      cumulative counts into a literal offset lookup;
    *   3. rank within each bucket (Window PARTITIONED by bucket — fully
    *      parallel) and add the bucket's offset.
    * At 100 TB: step 1 is a sampled scan, step 2 shuffles `buckets` longs,
    * step 3 is one range-shuffle — nothing ever serializes through a single
    * task, unlike the global `row_number()` parity form. Requires a numeric
    * orderCol (approxQuantile); ties across a bucket boundary cannot split
    * because bucketing compares values, not positions. */
  def withPageNumberScalable(df: DataFrame, orderCol: String, fetchSize: Int,
      out: String = "page", buckets: Int = 32): DataFrame = {
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val bounds = df.stat.approxQuantile(orderCol, probs, 0.001).distinct.sorted
    val bucketExpr = bounds.zipWithIndex
      .map { case (b, _) => when(col(orderCol) > lit(b), 1).otherwise(0) }
      .reduceOption(_ + _).getOrElse(lit(0))
    val withB = df.withColumn("_bkt", bucketExpr)
    // per-bucket counts are metadata-sized (`buckets` rows): fold them into
    // literal cumulative offsets rather than a join
    val counts = withB.groupBy("_bkt").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 to bounds.length).scanLeft(0L) { (acc, b) =>
      acc + counts.getOrElse(b, 0L)
    }.dropRight(1)
    val offExpr = element_at(array(offsets.map(lit): _*), col("_bkt") + lit(1))
    val w = Window.partitionBy(col("_bkt")).orderBy(col(orderCol))
    withB.withColumn(out,
        floor((row_number().over(w) + offExpr - lit(1)) / lit(fetchSize))
          .cast("long"))
      .drop("_bkt")
  }

  /** scan_resume: drop rows belonging to pages already completed, and within
    * the first incomplete page drop records at or below the last committed
    * record offset (`worker.py:164-201`).
    */
  def resume(df: DataFrame, orderCol: String, fetchSize: Int,
      donePages: Set[Long], lastRecordOffset: Map[Long, Long] = Map.empty): DataFrame = {
    val w = Window.orderBy(col(orderCol))
    val withRn = df.withColumn("_rn", row_number().over(w).cast("long"))
      .withColumn("_page", floor((col("_rn") - lit(1)) / lit(fetchSize)))
    val notDone = if (donePages.isEmpty) lit(true)
      else !col("_page").isin(donePages.toSeq: _*)
    val offsetOk = lastRecordOffset.foldLeft(lit(true)) { case (acc, (page, off)) =>
      // offset is the 1-based index-within-page of the last delivered record
      acc && !(col("_page") === lit(page) &&
        (col("_rn") - lit(page * fetchSize)) <= lit(off))
    }
    withRn.filter(notDone && offsetOk).drop("_rn", "_page")
  }

  /** Persisted resume state. Page numbers are only meaningful at the
    * fetch_size that minted them, so the state records it: the reference
    * likewise keys its saved crawl state by fetch_size and discards the
    * done-page set when the configured fetch_size no longer matches
    * (`datacrawler.py:205-208, 439-461`). */
  final case class PageState(fetchSize: Int, donePages: Set[Long],
      lastRecordOffset: Map[Long, Long] = Map.empty)

  /** File-backed page-state store (the Redis done-page hash analogue; at
    * scale a DFS path — one tiny key per table, never data). A save is
    * [[graft.KeyFiles.writeAtomic]], so a crash mid-save can never leave
    * a cut page list that marks the wrong page done. */
  final class PageStateStore(dir: String) {
    import java.nio.file.{Files, Path, Paths}
    Files.createDirectories(Paths.get(dir))
    private def file(table: String): Path = Paths.get(dir, s"$table.pages")
    def save(table: String, state: PageState): Unit = {
      val pages = state.donePages.toSeq.sorted.mkString(",")
      val offs = state.lastRecordOffset.toSeq.sorted
        .map { case (p, o) => s"$p:$o" }.mkString(",")
      graft.KeyFiles.writeAtomic(file(table),
        s"${state.fetchSize}\n$pages\n$offs\n")
    }
    def load(table: String): Option[PageState] =
      if (!Files.exists(file(table))) None
      else {
        val lines = Files.readString(file(table)).split("\n", -1)
        def longs(s: String) = s.split(",").filter(_.nonEmpty).map(_.trim)
        Some(PageState(
          lines(0).trim.toInt,
          longs(lines(1)).map(_.toLong).toSet,
          longs(lines(2)).map { kv =>
            val Array(p, o) = kv.split(":"); p.toLong -> o.toLong
          }.toMap))
      }
    def clear(table: String): Unit = Files.deleteIfExists(file(table))
  }

  /** [[resume]] honoring the recorded fetch_size: state minted at a
    * DIFFERENT fetch_size is ignored entirely — the run reprocesses from
    * scratch instead of skipping page numbers that now denote different
    * rows (silent mis-skip). Mirrors the reference's invalidation
    * (`datacrawler.py:205-208`). */
  def resumeWithState(df: DataFrame, orderCol: String, fetchSize: Int,
      state: Option[PageState]): DataFrame = state match {
    case Some(s) if s.fetchSize == fetchSize =>
      resume(df, orderCol, fetchSize, s.donePages, s.lastRecordOffset)
    case _ => df
  }
}
