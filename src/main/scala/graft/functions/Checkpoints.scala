package graft.functions

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Pluggable eager checkpointing for the iterative drivers (the
  * suffix-array doubling loop, BPE merge rounds, connected-components
  * label propagation, PageRank rounds, MMR selection) and the CCNet
  * bucket scores' lineage cut.
  *
  * `localCheckpoint` materializes to EXECUTOR storage: fast (no DFS
  * round-trip) but not fault-tolerant — the blocks die with their
  * executor, and because a checkpoint severs lineage they cannot be
  * recomputed, so one lost executor kills the whole job. Acceptable for
  * a single-JVM local run; NOT for the 100-TB design point, where an
  * hours-long suffix-array or BPE build must survive executor churn.
  *
  * Setting `spark.graft.checkpointDir` (session conf, settable at any
  * time) switches every round checkpoint taken through this object to a
  * RELIABLE checkpoint: round output is written to that directory
  * (HDFS/S3/DFS in production), survives executor loss, and recomputation
  * restarts from the last round's files instead of from the raw corpus.
  * The trade — one DFS write + read per round — is exactly the classic
  * iterative-framework choice (Pregel-style superstep persistence), and
  * at 100 TB the doubling loop's per-round frame is a small multiple of
  * the token count, far below the raw input. See SCALING.md.
  */
object Checkpoints {

  /** Session conf key: when set to a non-empty path, round checkpoints
    * are reliable (written under this directory). */
  val DirKey = "spark.graft.checkpointDir"

  private[graft] def reliableDir(df: DataFrame): Option[String] =
    df.sparkSession.conf.getOption(DirKey).map(_.trim).filter(_.nonEmpty)

  /** Eager checkpoint of `df`: reliable when [[DirKey]] is configured,
    * local otherwise. Both paths return a frame whose analyzed plan is a
    * `LogicalRDD` leaf, so the scope-tracked release in [[Caches.Scope]]
    * (and its leaf tracker, the one copy there is) keeps working
    * unchanged. Releasing (unpersisting) the tracked RDD of
    * a RELIABLE checkpoint is a no-op on storage blocks — the data lives
    * in files; file cleanup follows Spark's
    * `spark.cleaner.referenceTracking.cleanCheckpoints` contract (or a
    * TTL policy on the directory in production). */
  def eager(df: DataFrame): DataFrame = reliableDir(df) match {
    case Some(dir) =>
      val sc = df.sparkSession.sparkContext
      // setCheckpointDir creates a fresh random subdir per call — set it
      // once per configured dir, not per round (the conf may change
      // between calls, and must then take effect)
      val want = new Path(dir)
      val qualified = want.getFileSystem(sc.hadoopConfiguration).makeQualified(want)
      if (!sc.getCheckpointDir.exists(d => new Path(d).getParent == qualified))
        sc.setCheckpointDir(dir)
      df.checkpoint(eager = true)
    case None => df.localCheckpoint(eager = true)
  }
}
