package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Change-data-capture apply: MERGE a change batch (upserts + deletes)
  * into a landed snapshot — the maintenance operation downstream of any
  * incremental extraction (the reference re-extracts changed rows; a
  * 100 TB lake then has to fold them into the previous snapshot without
  * rewriting unchanged data logically).
  *
  * Scale shape: the change batch first reduces to ONE winning change per
  * key (`max_by` over the sequence column — one partial-aggregable shuffle
  * of the batch, never the snapshot), then a single key-keyed full-outer
  * join applies it. The snapshot shuffles once; with both sides landed
  * bucketed on the key ([[graft.sources.Layout.writeKeyBucketed]]) even
  * that exchange disappears. Delete-wins-then-reinsert ordering is decided
  * by the sequence number, exactly like log-structured merges.
  */
object Merge {

  /** Apply `changes` (op in {'u','d'}, ordered per key by `seqCol`) to
    * `snapshot`. Payload columns are every snapshot column except the key;
    * an upsert replaces the whole payload, a delete removes the key. The
    * latest change per key wins; earlier ones never matter (including
    * deletes shadowed by later upserts). */
  def applyChanges(snapshot: DataFrame, changes: DataFrame, key: String,
      opCol: String = "op", seqCol: String = "seq"): DataFrame = {
    val payload = snapshot.columns.filter(_ != key).toSeq
    val latest = changes
      .groupBy(col(key))
      .agg(max_by(
        struct((opCol +: payload).map(col): _*), col(seqCol)).as("_w"))
      .select(col(key), col("_w"))
    snapshot.join(latest, Seq(key), "full_outer")
      .filter(col("_w").isNull || col("_w").getField(opCol) =!= "d")
      .select(col(key) +: payload.map(c =>
        when(col("_w").isNotNull, col("_w").getField(c))
          .otherwise(col(c)).as(c)): _*)
  }

  /** Merge-on-read: resolve the current table state from an immutable base
    * snapshot plus an append-only change LOG directory (as landed by
    * [[graft.streaming.Incremental.cdcLog]]) — the Hudi/Iceberg MOR
    * trade: writes stay append-only (no read-modify-write, replay-safe),
    * readers pay one [[applyChanges]] join. Identical output to eagerly
    * applying every change; compact by materializing this view as the new
    * base and truncating the log. */
  def readMergeOnRead(snapshot: DataFrame, changesDir: String, key: String,
      opCol: String = "op", seqCol: String = "seq"): DataFrame = {
    val spark = snapshot.sparkSession
    val fs = new org.apache.hadoop.fs.Path(changesDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(changesDir))) snapshot
    else {
      val wanted = (key +: opCol +: seqCol +:
        snapshot.columns.filter(_ != key).toSeq).distinct
      applyChanges(snapshot,
        graft.sources.Tables.parquet(spark, changesDir).select(wanted.map(col): _*),
        key, opCol, seqCol)
    }
  }
}
