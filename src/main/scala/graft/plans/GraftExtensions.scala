package graft.plans

import org.apache.spark.sql.{GraftSql, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one install seam for graft's Catalyst extensions: the native
  * expressions as SQL functions (`spark.sql("SELECT rolling_hash(text)")`),
  * the [[TopKStrategy]] planner strategy, and the [[TopKRewrite]]
  * optimizer rule that routes user-written window top-k onto it. A
  * deployed library ships it as a `SparkSessionExtensions` entry point:
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
  * // or: .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  * }}}
  *
  * A session that is already running gets the same pieces from the
  * companion: [[GraftExtensions.register]] (functions),
  * [[GraftExtensions.enable]] (strategy and rule) and
  * [[GraftExtensions.enableStrategy]] (strategy only).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, cls, builder) =>
      e.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
    e.injectPlannerStrategy(_ => TopKStrategy)
    e.injectOptimizerRule(_ => TopKRewrite)
  }
}

object GraftExtensions {

  val rollingHashBuilder: Seq[Expression] => Expression = {
    case Seq(c) => RollingHash(c)
    case Seq(c, b, m) => RollingHash(c,
      b.eval().asInstanceOf[Number].longValue(),
      m.eval().asInstanceOf[Number].longValue())
    case _ => throw new IllegalArgumentException("rolling_hash(str[, base, mod])")
  }

  val wordShinglesBuilder: Seq[Expression] => Expression = {
    case Seq(c, k) => WordShingles(c, k.eval().asInstanceOf[Number].intValue())
    case _ => throw new IllegalArgumentException("word_shingles(str, k)")
  }

  val simHashBuilder: Seq[Expression] => Expression = {
    case Seq(c) => SimHash64(c)
    case _ => throw new IllegalArgumentException("simhash64(str)")
  }

  val vecDotBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => VecDot(a, b)
    case _ => throw new IllegalArgumentException("vec_dot(arr, arr)")
  }

  /** Patterns as string literals: `multi_substring_count(text, 'a', 'b')`. */
  val multiSubstringBuilder: Seq[Expression] => Expression = {
    case exprs if exprs.size >= 2 =>
      MultiSubstringCount(exprs.head,
        exprs.tail.map(_.eval().toString))
    case _ => throw new IllegalArgumentException(
      "multi_substring_count(str, pattern[, pattern...])")
  }

  val winnowSelectBuilder: Seq[Expression] => Expression = {
    case Seq(c, w) =>
      // the window must be a literal: it parameterizes the expression, it
      // is not a per-row input. Validate here for a clear analysis-time
      // error instead of an opaque eval()-on-unbound failure
      val integral = w.dataType match {
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.ByteType => true
        case _ => false
      }
      if (!w.foldable || !integral)
        throw new IllegalArgumentException(
          "winnow_select: window must be an integral literal")
      WinnowSelect(c, w.eval().asInstanceOf[Number].intValue())
    case _ => throw new IllegalArgumentException(
      "winnow_select(array<long>, window)")
  }

  /** (SQL name, expression class, builder) of every native expression:
    * the one table [[GraftExtensions.apply]] injects and [[register]]
    * registers. */
  val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("rolling_hash", classOf[RollingHash], rollingHashBuilder),
    ("word_shingles", classOf[WordShingles], wordShinglesBuilder),
    ("simhash64", classOf[SimHash64], simHashBuilder),
    ("vec_dot", classOf[VecDot], vecDotBuilder),
    ("multi_substring_count", classOf[MultiSubstringCount],
      multiSubstringBuilder),
    ("winnow_select", classOf[WinnowSelect], winnowSelectBuilder))

  /** Register [[functions]] on a running session (tests, REPL). */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      GraftSql.registerFunction(spark, name, builder)
    }

  /** Install [[TopKStrategy]] on a running session, idempotently. The
    * [[TopKPerKey]] API calls this, and only this: turning on the rewrite
    * rule too would change the plan of every later window query in the
    * session. */
  def enableStrategy(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy

  /** Install [[TopKRewrite]] and the strategy it plans onto on a running
    * session, idempotently (the extension-less path). */
  def enable(spark: SparkSession): Unit = {
    enableStrategy(spark)
    if (!spark.experimental.extraOptimizations.contains(TopKRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ TopKRewrite
  }
}
