package graft.functions

import org.apache.spark.sql.DataFrame

/** Cache hygiene for driver-loop operators. */
object Caches {

  /** Tracks the localCheckpoint'd RDDs created THROUGH it, so the release
    * valve frees exactly those — never a concurrent query's blocks. The
    * round-8 form diffed `sparkContext.getPersistentRDDs` around the body,
    * which is process-global: under sbt's parallel suites a CONCURRENT
    * operator's localCheckpoint landing inside the window would be swept
    * too, and because a localCheckpoint severs lineage, the victim fails
    * with missing-block errors instead of recomputing. Scoped tracking
    * removes the race by construction. */
  final class CheckpointScope private[Caches] () {
    private val acquired =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]

    /** Eager checkpoint of `df` (local by default, RELIABLE when
      * `spark.graft.checkpointDir` is set — [[Checkpoints.eager]]),
      * remembering the materialized RDD (the `LogicalRDD` leaf the
      * checkpointed frame is built on) for release when the scope
      * closes. Callers must not let the returned frame escape the scope
      * — the blocks are gone after it. */
    def checkpoint(df: DataFrame): DataFrame = {
      val out = Checkpoints.eager(df)
      val rdd = out.queryExecution.analyzed.collectFirst {
        case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      }
      // Fail loudly if the checkpointed plan is not the LogicalRDD leaf
      // this matcher expects: a silent miss would degrade the release
      // valve back to the round-7 per-round block leak with no signal —
      // a Spark upgrade that wraps the node must surface here, in tests,
      // not as session memory growth.
      require(rdd.isDefined,
        "CheckpointScope: localCheckpoint did not produce a LogicalRDD " +
          "leaf — release tracking would silently leak; plan: " +
          out.queryExecution.analyzed.getClass.getName)
      acquired += rdd.get
      out
    }

    private[Caches] def release(): Unit =
      acquired.foreach(_.unpersist(blocking = false))
  }

  /** Run `body` with a [[CheckpointScope]], then unpersist exactly the
    * RDDs the body checkpointed through it — the release valve for
    * sequential-round operators ([[Bpe.learn]]/`learnBatched`,
    * [[Similarity.mmrSelect]]) whose per-round `localCheckpoint`s would
    * otherwise accumulate one materialized frame per round for the life
    * of the session. ONLY safe when `body` returns driver-local data: a
    * localCheckpoint severs lineage, so a returned DataFrame that still
    * referenced a freed checkpoint could never recompute it. */
  def releasingShortLivedCaches[T](body: CheckpointScope => T): T = {
    val scope = new CheckpointScope
    try body(scope)
    finally scope.release()
  }

  /** Registry of OPERATOR-INTERNAL persists — the multi-consumer
    * intermediates (basket items, dhash signatures, sketch partials)
    * whose RETURNED frame still references the cache, so the operator
    * cannot unpersist before returning. Bench/Verify sweep these per
    * query by RDD-id diff; a long-lived USER session calls
    * [[sweepOperatorCaches]] between logical units instead. STRONG
    * references, deliberately: the round-9 WeakReference form was
    * unsound — Spark's CacheManager pins the cached blocks regardless
    * of the wrapper DataFrame's reachability, so a GC collecting the
    * operator-local frame object (observed under the full parallel test
    * suite) silently turned the sweep into a no-op and leaked the
    * blocks for the session's lifetime. The strong ref costs only the
    * plan object's memory, held exactly until the next sweep. */
  private val operatorCaches =
    scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** `df.persist()` plus registration for [[sweepOperatorCaches]]. */
  def operatorPersist(df: DataFrame): DataFrame = {
    df.persist()
    operatorCaches.synchronized { operatorCaches += df }
    df
  }

  /** Run `body`, then unpersist every RDD it left persisted (checkpoint
    * blocks included) and drain the operator-cache registry — the
    * per-unit sweep a long-lived session runs between queries (Bench,
    * Verify, the tools, stream micro-batches). The RDD-id diff is only
    * safe when nothing else runs on the context meanwhile: callers run
    * their units sequentially. */
  def sweepingNew[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally {
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => before.contains(id) }
        .values.foreach(_.unpersist(blocking = false))
      sweepOperatorCaches()
    }
  }

  /** Unpersist every registered operator cache still materialized and
    * clear the registry; returns how many were released. ALWAYS safe,
    * any time: persist does not sever lineage (unlike localCheckpoint),
    * so a swept frame a query still references silently recomputes —
    * the cost of a badly-timed sweep is time, never correctness. */
  def sweepOperatorCaches(): Int = operatorCaches.synchronized {
    var n = 0
    operatorCaches.foreach { df =>
      if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) {
        df.unpersist(blocking = false)
        n += 1
      }
    }
    operatorCaches.clear()
    n
  }
}
