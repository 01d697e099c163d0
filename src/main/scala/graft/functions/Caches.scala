package graft.functions

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

/** The library's two cache lifetimes; every persist and checkpoint in
  * `src/main` goes through one of them (CatalogSpec scans for strays).
  * ESCAPING — [[operatorPersist]]: the returned frame still reads the
  * cache, so the per-unit sweep releases it. SCOPED — [[scoped]]: the
  * cache dies with the function, early on request, and on a throw too.
  * Both release through `DataFrame.unpersist`, which also drops the
  * CacheManager entry: an RDD-level release leaves the entry, and the
  * next identical plan in the session is then served from it,
  * recomputing lazily over an earlier unit's shuffle files. */
object Caches {

  /** The RDD a checkpointed frame is built on: the `LogicalRDD` leaf of
    * its analyzed plan (local and reliable checkpoints alike). */
  private def leaf(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }

  private def free(cache: AnyRef): Unit = cache match {
    case ds: Dataset[_] => ds.unpersist(blocking = false)
    case rdd: RDD[_] => rdd.unpersist(blocking = false)
  }

  /** The caches one [[scoped]] block took: exactly those — never a
    * concurrent query's blocks (the round-8 RDD-id diff swept a
    * concurrent operator's checkpoint, whose severed lineage then failed
    * with missing blocks). Thread-safe: an operator may persist from a
    * second driver thread. */
  final class Scope private[Caches] () {
    // persisted frames and checkpoint RDDs
    private val held = scala.collection.mutable.ArrayBuffer.empty[AnyRef]

    /** `df.persist()` until [[release]] or the scope's end. A frame that
      * outlives the scope may still read it: persist keeps lineage. */
    def persist(df: DataFrame): DataFrame = {
      df.persist()
      synchronized { held += df }
      df
    }

    /** [[Checkpoints.eager]] of `df` until [[release]] or the scope's
      * end. A checkpoint severs lineage: a frame built on it must not
      * outlive its release — hand such a frame out with [[escape]]. */
    def checkpoint(df: DataFrame): DataFrame = {
      val out = Checkpoints.eager(df)
      // a missing leaf would leak one materialized frame per round with
      // no signal — a Spark upgrade that wraps the node must fail here
      val rdd = leaf(out).getOrElse(throw new IllegalStateException(
        "Caches.Scope: checkpoint without a LogicalRDD leaf: " +
          out.queryExecution.analyzed.getClass.getName))
      synchronized { held += rdd }
      out
    }

    /** Release now a frame this scope persisted, or the checkpoint a
      * frame is built on (a no-op on a reliable checkpoint's files). */
    def release(df: DataFrame): Unit = free(untrack(df).getOrElse(
      throw new IllegalArgumentException(
        "Caches.Scope.release: the frame holds no cache of this scope")))

    /** Stop tracking `df`'s cache and return `df`: the checkpoint a
      * returned frame is built on, freed by the unit's [[sweepingNew]]. */
    def escape(df: DataFrame): DataFrame = { untrack(df); df }

    // the frame itself first: a persisted frame may sit on a checkpoint
    private def untrack(df: DataFrame): Option[AnyRef] = synchronized {
      val i = held.indexWhere(_ eq df) match {
        case -1 => leaf(df).fold(-1)(rdd => held.indexWhere(_ eq rdd))
        case i => i
      }
      if (i < 0) None else Some(held.remove(i))
    }

    private[Caches] def close(): Unit = synchronized {
      held.foreach(free)
      held.clear()
    }
  }

  /** Run `body` with a fresh [[Scope]]; release everything it still
    * holds when `body` returns or throws. */
  def scoped[T](body: Scope => T): T = {
    val scope = new Scope
    try body(scope)
    finally scope.close()
  }

  /** Registry of OPERATOR-INTERNAL persists — the multi-consumer
    * intermediates (basket items, dhash signatures, sketch partials)
    * whose RETURNED frame still references the cache, so the operator
    * cannot unpersist before returning. Bench/Verify sweep these per
    * unit; a long-lived USER session calls [[sweepOperatorCaches]]
    * between logical units instead. STRONG references, deliberately:
    * the round-9 WeakReference form was unsound — Spark's CacheManager
    * pins the cached blocks regardless of the wrapper DataFrame's
    * reachability, so a GC collecting the operator-local frame object
    * (observed under the full parallel test suite) silently turned the
    * sweep into a no-op and leaked the blocks for the session's
    * lifetime. The strong ref costs only the plan object's memory, held
    * exactly until the next sweep. */
  private val operatorCaches =
    scala.collection.mutable.ArrayBuffer.empty[DataFrame]

  /** `df.persist()` plus registration for [[sweepOperatorCaches]]. */
  def operatorPersist(df: DataFrame): DataFrame = {
    df.persist()
    operatorCaches.synchronized { operatorCaches += df }
    df
  }

  /** Run `body`, then drain the operator-cache registry and unpersist
    * every RDD it left persisted (the untracked checkpoints:
    * [[Checkpoints.eager]] rounds and [[Scope.escape]]d frames) — the
    * per-unit sweep a long-lived session runs between queries (Bench,
    * Verify, the tools, stream micro-batches). The RDD-id diff is only
    * safe when nothing else runs on the context meanwhile: callers run
    * their units sequentially. */
  def sweepingNew[T](spark: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    try body
    finally {
      sweepOperatorCaches()
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => before.contains(id) }
        .values.foreach(_.unpersist(blocking = false))
    }
  }

  /** Unpersist every registered operator cache still materialized and
    * clear the registry; returns how many were released. ALWAYS safe,
    * any time: persist does not sever lineage (unlike a checkpoint),
    * so a swept frame a query still references silently recomputes —
    * the cost of a badly-timed sweep is time, never correctness. */
  def sweepOperatorCaches(): Int = operatorCaches.synchronized {
    var n = 0
    operatorCaches.foreach { df =>
      if (df.storageLevel != StorageLevel.NONE) {
        df.unpersist(blocking = false)
        n += 1
      }
    }
    operatorCaches.clear()
    n
  }
}
