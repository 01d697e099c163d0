package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, EqualTo, ExprId, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, PredicateHelper, RowFrame, RowNumber, SpecifiedWindowFrame, UnboundedPreceding, CurrentRow, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule rewriting the idiomatic per-key top-k pattern —
  * `filter(row_number().over(partitionBy(keys).orderBy(o)) <= k)` — into
  * the [[TopKPerKey]] operator, so USER-written window code gets the
  * bounded-heap physical plan without knowing the custom API exists. The
  * classic `injectOptimizerRule` seam: pattern-match the analyzed logical
  * plan, substitute an equivalent custom node, let the matching strategy
  * plan it.
  *
  * Exactness contract (all required, otherwise the plan is left alone):
  *  - the Window computes EXACTLY ONE expression and it is `row_number()`
  *    over the node's own (partitionSpec, orderSpec) with the standard
  *    UNBOUNDED PRECEDING..CURRENT ROW row frame;
  *  - partitionSpec and orderSpec are nonempty (a global top-k belongs to
  *    TakeOrdered, not a per-key heap);
  *  - some conjunct of the Filter bounds the rank from ABOVE by an int
  *    literal (`rn <= k`, `rn < k`, `rn = 1`, or the flipped forms);
  *    the smallest such bound becomes k. Every OTHER conjunct (including
  *    further rank predicates like `rn > 2` — pagination) is kept as a
  *    residual Filter ON TOP: TopKPerKey emits true row_number values
  *    1..k per key, so residual predicates see exactly the rows and
  *    ranks the window form would have produced;
  *  - k is positive and at most `MaxK` (10⁵):
  *    the heap holds k rows per key, so a pathological `rn <= 10⁹`
  *    must keep the sort-based plan rather than trade spillable sort
  *    memory for an unspillable heap.
  *
  * Spark's own `InferWindowGroupLimit` (3.5+) attacks the same pattern by
  * inserting a pre-Window group-limit filter, but the surviving k rows
  * per key per partition still flow through the full sort-based Window
  * exec; this rewrite replaces the sort machinery entirely with the
  * streaming heap (O(n log k) per partition, memory = output size). The
  * rank attribute keeps its ExprId, so downstream references resolve
  * unchanged.
  *
  * Installed with [[TopKStrategy]] by [[GraftExtensions]]
  * (`spark.sql.extensions`), or on a running session by
  * [[GraftExtensions.enable]].
  */
object TopKRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** Upper bound a conjunct places on the rank attribute, if any. */
  private def limitFrom(cond: Expression, rn: ExprId): Option[Int] = cond match {
    case LessThanOrEqual(a: AttributeReference, Literal(v: Int, IntegerType))
      if a.exprId == rn => Some(v)
    // v - 1 wraps to Int.MaxValue at Int.MinValue, turning the always-
    // false conjunct `rn < MinValue` into an apparent huge bound that the
    // residual logic would drop as "implied by the heap" — guard the
    // subtraction and leave pathological literals unrewritten (the
    // conjunct then stays in the residual filter and correctly yields
    // zero rows, exactly like the window form)
    case LessThan(a: AttributeReference, Literal(v: Int, IntegerType))
      if a.exprId == rn && v > Int.MinValue => Some(v - 1)
    case EqualTo(a: AttributeReference, Literal(v: Int, IntegerType))
      if a.exprId == rn && v == 1 => Some(1)
    case EqualTo(Literal(v: Int, IntegerType), a: AttributeReference)
      if a.exprId == rn && v == 1 => Some(1)
    case GreaterThanOrEqual(Literal(v: Int, IntegerType), a: AttributeReference)
      if a.exprId == rn => Some(v)
    case GreaterThan(Literal(v: Int, IntegerType), a: AttributeReference)
      if a.exprId == rn && v > Int.MinValue => Some(v - 1)
    case _ => None
  }

  /** The largest k the heap takes over from the sort-based plan. */
  private val MaxK = 100000

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case Filter(cond, Window(
        Seq(alias @ Alias(WindowExpression(RowNumber(),
          WindowSpecDefinition(wPart, wOrd,
            SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))), _)),
        part, ord, child, _))
        if part.nonEmpty && ord.nonEmpty && wPart == part && wOrd == ord &&
          splitConjunctivePredicates(cond)
            .exists(c => limitFrom(c, alias.exprId).exists(k => k >= 1 && k <= MaxK)) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val k = conjuncts.flatMap(c => limitFrom(c, alias.exprId))
        .filter(_ >= 1).min
      val rankAttr = alias.toAttribute.asInstanceOf[AttributeReference]
      // Spark's InferWindowGroupLimit (main batch, runs before this rule)
      // may already have inserted its sort-based group limit below the
      // Window; the heap subsumes it, so strip it rather than sort-then-heap
      val base = child match {
        case WindowGroupLimit(gPart, gOrd, _, limit, gChild)
          if gPart == part && gOrd == ord && limit >= k => gChild
        case other => other
      }
      // two-stage heap: the partial pass emits <= k rows per key per input
      // partition with NO distribution requirement (the map-side combine
      // the sort-based partial WindowGroupLimit provided, minus its
      // per-partition sort), the final clustered pass assigns real ranks
      val partialRank =
        AttributeReference("_partial_rn", IntegerType, nullable = false)()
      val partial = Project(base.output,
        TopKPerKey(k, part, ord, partialRank, base, partial = true))
      val topk = TopKPerKey(k, part, ord, rankAttr, partial)
      // conjuncts implied by the heap bound (upper bounds >= k) drop;
      // everything else — non-rank predicates AND residual rank
      // predicates — filters the exact (row, rank) pairs the window
      // form would have kept
      val residual = conjuncts.filterNot(c =>
        limitFrom(c, alias.exprId).exists(_ >= k))
      if (residual.isEmpty) topk
      else Filter(residual.reduce(And), topk)
  }
}
