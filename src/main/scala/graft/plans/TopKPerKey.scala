package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSql}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, Descending, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.IntegerType

/** Per-key top-k as a first-class operator: logical node + planner strategy
  * + physical exec — the full custom-operator seam (SparkSessionExtensions /
  * experimental strategies), used where composition is genuinely wasteful.
  *
  * The composable form — `row_number().over(Window.partitionBy(keys)
  * .orderBy(o)) <= k` — fully SORTS every key group just to keep k rows.
  * This operator keeps a bounded heap per key instead: one pass, O(n log k),
  * memory proportional to the OUTPUT (k rows per key), no sort buffer and no
  * spill pressure. At 100 TB "top 3 per customer over billions of rows" is
  * the difference between sorting every group and streaming over them.
  *
  * Semantics match the window formulation exactly, including the rank
  * column and its tie-breaks, provided the order is total (callers append a
  * unique tie-break column, same discipline the window form needs) — pinned
  * by test and by the shared DuckDB oracle.
  */
case class TopKPerKey(
    k: Int,
    keys: Seq[Expression],
    order: Seq[SortOrder],
    rankAttr: AttributeReference,
    child: LogicalPlan,
    partial: Boolean = false) extends UnaryNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override def maxRows: Option[Long] = child.maxRows

  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKey =
    copy(child = newChild)
}

case class TopKPerKeyExec(
    k: Int,
    keys: Seq[Expression],
    order: Seq[SortOrder],
    rankAttr: Attribute,
    child: SparkPlan,
    partial: Boolean = false) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)

  /** Final mode co-locates each key's rows (Spark inserts the hash
    * exchange); partial mode runs on whatever partitioning the child has —
    * a map-side pre-aggregation that keeps only k rows per key per
    * partition, so the exchange a downstream FINAL pass induces moves
    * k×numPartitions rows per key instead of the key's full group. */
  override def requiredChildDistribution: Seq[Distribution] =
    (if (partial) UnspecifiedDistribution else ClusteredDistribution(keys)) :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val keyExprs = keys
    val orderExprs = order
    val childOutput = child.output
    val outputAttrs = output
    val partialLocal = partial
    val maxKeys = TopKPerKey.PartialMaxKeys
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val ord = RowOrdering.create(orderExprs, childOutput)
      val rankRow = new GenericInternalRow(1)
      val joined = new JoinedRow
      val outProj = UnsafeProjection.create(outputAttrs.map(_.dataType).toArray)
      def drain(heap: java.util.PriorityQueue[InternalRow]): Iterator[UnsafeRow] = {
        val arr = heap.toArray(new Array[InternalRow](heap.size))
        java.util.Arrays.sort(arr, ord)
        arr.iterator.zipWithIndex.map { case (r, i) =>
          rankRow.setInt(0, i + 1)
          outProj(joined(r, rankRow))
        }
      }
      // max-heap of the k best-so-far per key (head = worst kept). PARTIAL
      // mode bounds the key map: when a near-unique key (a content digest)
      // would grow it past maxKeys, the least-recently-seen key's heap is
      // EMITTED early and dropped from the map — a re-appearing key then
      // emits up to 2k rows, which is still a SUPERSET of its partition
      // top-k, and the final (clustered) stage reduces it exactly. Memory
      // is O(maxKeys x k rows) regardless of key cardinality. Final mode
      // never evicts (clustering guarantees each key's rows co-arrive, and
      // its ranks are the real output).
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, java.util.PriorityQueue[InternalRow]]
      new Iterator[InternalRow] {
        private var pending: Iterator[InternalRow] = Iterator.empty
        private var drainedFinal = false
        private def advance(): Unit = {
          while (!pending.hasNext && iter.hasNext) {
            val row = iter.next()
            val key = keyProj(row)
            val heap = heaps.get(key) match {
              case Some(h) => h
              case None =>
                if (partialLocal && heaps.size >= maxKeys) {
                  val eldest = heaps.head
                  heaps.remove(eldest._1)
                  pending = drain(eldest._2) // emit NOW — memory stays bounded
                }
                val h = new java.util.PriorityQueue[InternalRow](kLocal + 1, ord.reversed())
                heaps.put(key.copy(), h)
                h
            }
            if (heap.size < kLocal) heap.add(row.copy())
            else if (ord.compare(row, heap.peek()) < 0) {
              heap.poll(); heap.add(row.copy())
            }
          }
          if (!pending.hasNext && !iter.hasNext && !drainedFinal) {
            drainedFinal = true
            pending = heaps.valuesIterator.flatMap(drain)
          }
        }
        override def hasNext: Boolean = { advance(); pending.hasNext }
        override def next(): InternalRow = { advance(); pending.next() }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKey(k, keys, order, rankAttr, child, partial) =>
      TopKPerKeyExec(k, keys, order, rankAttr, planLater(child), partial) :: Nil
    case _ => Nil
  }
}

object TopKPerKey {

  /** Partial-mode key-map bound: beyond this many live keys per partition
    * the least-recently-seen key's heap is emitted early (still a superset
    * of the partition top-k — the final stage reduces exactly), so partial
    * memory is O(PartialMaxKeys × k rows) even when the key is a content
    * digest with cardinality ≈ row count. Overridable for tests via
    * `spark.graft.topk.partialMaxKeys` would be config plumbing; a JVM
    * property keeps the test hook dependency-free. */
  private[graft] def PartialMaxKeys: Int =
    Integer.getInteger("graft.topk.partialMaxKeys", 1 << 16)

  /** Public API: top `k` rows per `keys` group in `order`, with a 1-based
    * rank column appended. Append a unique column to `order` for total
    * determinism (same requirement as the window formulation). */
  def perKey(df: DataFrame, keyNames: Seq[String],
      orderSpec: Seq[(String, Boolean)], k: Int,
      rankName: String = "rn"): DataFrame =
    build(df, keyNames, orderSpec, k, rankName, partial = false)

  /** Partial (map-side) top-k: same ordering contract, but computed
    * independently per input partition with NO exchange — emits at most k
    * rows per key per partition, always a superset of the global top-k.
    * Compose `perKey(perKeyPartial(df, ...), ...)` for an exact two-stage
    * top-k whose shuffle moves k×numPartitions rows per key instead of the
    * key's whole group — the fix for jumbo-key skew (one stratum = half the
    * corpus) where a single clustered pass funnels that key through one
    * task. The per-partition rank is meaningless globally, so it is
    * dropped. */
  def perKeyPartial(df: DataFrame, keyNames: Seq[String],
      orderSpec: Seq[(String, Boolean)], k: Int): DataFrame =
    build(df, keyNames, orderSpec, k, "_partial_rn", partial = true)
      .drop("_partial_rn")

  private def build(df: DataFrame, keyNames: Seq[String],
      orderSpec: Seq[(String, Boolean)], k: Int,
      rankName: String, partial: Boolean): DataFrame = {
    val spark = df.sparkSession
    GraftExtensions.enableStrategy(spark)
    val analyzed = GraftSql.analyzedPlan(df)
    def attr(name: String): Attribute = analyzed.output.find(_.name == name)
      .getOrElse(throw new IllegalArgumentException(
        s"no column '$name' in ${analyzed.output.map(_.name)}"))
    val order = orderSpec.map { case (c, asc) =>
      SortOrder(attr(c), if (asc) Ascending else Descending)
    }
    val rankAttr = AttributeReference(rankName, IntegerType, nullable = false)()
    GraftSql.ofRows(spark,
      TopKPerKey(k, keyNames.map(attr), order, rankAttr, analyzed, partial))
  }
}
