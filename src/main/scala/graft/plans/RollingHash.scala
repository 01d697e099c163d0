package graft.plans

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling-hash document fingerprint as a native Catalyst
  * expression with whole-stage codegen — the preferred seat for a scalar
  * function Spark lacks (custom `Expression` beats UDF: no boxing, no
  * closure serialization, fuses into the surrounding codegen stage).
  *
  * hash = fold(acc = 0; acc = (acc * base + codepoint) % mod) over the
  * string's Unicode code points. Defaults (base 31, mod 1e9+7) keep
  * `acc * base + cp` far below 2^63 so the arithmetic is exact in a long —
  * and exactly reproducible in any engine with 64-bit integers, which is
  * what makes the DuckDB oracle able to verify it (list_reduce over
  * codepoints).
  *
  * Used for `doc_fingerprint` (SURVEY.md's text-analysis extension): a
  * deterministic 1-per-document fingerprint for cheap exact-dup detection /
  * stable sampling at 100 TB scale.
  */
case class RollingHash(
    child: Expression,
    base: Long = 31L,
    mod: Long = 1000000007L)
  extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    RollingHash.compute(input.asInstanceOf[UTF8String], base, mod)

  /** Static-invoke codegen (the [[WordShingles]] pattern): both eval paths
    * run the one fold in [[RollingHash.compute]]; base and mod are
    * plan-time constants inlined into the generated call. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.RollingHash$$.MODULE$$.compute($c, ${base}L, ${mod}L);")

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  def apply(c: Column): Column =
    GraftSql.column(RollingHash(GraftSql.expression(c)))

  def withParams(c: Column, base: Long, mod: Long): Column =
    GraftSql.column(RollingHash(GraftSql.expression(c), base, mod))

  /** fold(acc = 0; acc = (acc * base + codepoint) % mod) over the code
    * points of `input`; called from both eval paths. */
  def compute(input: UTF8String, base: Long, mod: Long): Long = {
    val s = input.toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      acc = (acc * base + cp) % mod
    }
    acc
  }
}
