package graft.plans

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}

/** Step-function lookup over a DRIVER-SIZED sorted boundary table, as one
  * codegen'd binary search per row: value(r) = vals(max i: ts(i) <= r),
  * or 0 when r sorts before every boundary — exactly the semantics of a
  * LEFT join against the expanded (rank -> value) step table with
  * `coalesce(value, 0)` on the miss side.
  *
  * Seat (round 17, r16 verdict #3): the incremental-SA output shift. When
  * the delta-local seat engaged, the insertion-offset jump table is
  * already a driver array bounded by the seat's own engagement budget
  * (<= one jump per new-only class <= `SuffixArray.LocalMaxRows`), yet the
  * round-16 output phase re-entered it as a DataFrame, expanded it to one
  * row PER OLD RANK (rMax rows — corpus-index-sized, 2.9M at the 10x
  * vintage) and shuffled/broadcast that against the corpus-sized output.
  * Shipping the boundaries instead of the expansion moves O(#jumps) longs
  * once per executor and prices each output row at a binary search —
  * guide §2.4 (remove the exchange outright) + §2.3 (ship keys, not the
  * expanded payload). The distributed class-machinery seat keeps the
  * join: there the jump table is itself distributed.
  *
  * `ts` must be sorted strictly ascending (the TreeMap iteration order it
  * is built from); equality with the join form is pinned in
  * DedupSimilaritySpec alongside the seat variants. */
case class StepLookup(child: Expression, ts: Array[Long], vals: Array[Long])
    extends UnaryExpression {
  require(ts.length == vals.length, "boundary/value arity mismatch")

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[Long])

  def compute(r: Long): Long = {
    // greatest i with ts(i) <= r; -1 when r < ts(0)
    var lo = 0
    var hi = ts.length - 1
    var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (ts(mid) <= r) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    if (ans < 0) 0L else vals(ans)
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stepLookup", this,
      classOf[StepLookup].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): StepLookup =
    copy(child = newChild)

  // Array fields compare by reference under the case-class default, so
  // Catalyst canonicalization / semantic equality (cache sameResult, CSE)
  // would treat structurally identical instances as different (round-17
  // advice). Element-wise equality restores plan/cache reuse.
  override def equals(other: Any): Boolean = other match {
    case s: StepLookup => child == s.child &&
      java.util.Arrays.equals(ts, s.ts) && java.util.Arrays.equals(vals, s.vals)
    case _ => false
  }

  override def hashCode(): Int =
    java.util.Objects.hash(child,
      Int.box(java.util.Arrays.hashCode(ts)),
      Int.box(java.util.Arrays.hashCode(vals)))
}

object StepLookup {
  def apply(c: Column, ts: Array[Long], vals: Array[Long]): Column =
    GraftSql.column(StepLookup(GraftSql.expression(c), ts, vals))
}
