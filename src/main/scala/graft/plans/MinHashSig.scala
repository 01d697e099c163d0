package graft.plans

import graft.functions.Dedup
import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Whole minhash signature of a document as ONE narrow expression:
  * tokenize -> distinct k-word shingles -> xxhash64 -> numHashes affine
  * minima, all in a single pass with no intermediate shingle array.
  *
  * A minhash signature is a pure per-document function, so the right 100 TB
  * seat is a map fused into the scan — shuffling NOTHING — rather than the
  * explode -> aggregate pipeline (which moves every (doc, shingle) pair into
  * aggregation machinery, even though partial aggregation keeps the
  * exchange itself small). This expression is bit-identical to the
  * relational form (`Dedup.minhashSignaturesRelational`) by construction:
  * same WordShingles tokenization (`split(' ', -1)`, short docs
  * contribute the full text), same xxhash64 seed 42, same pmod-prime
  * affine family ([[Dedup.minhashCoeffs]]). Pinned by test.
  */
case class MinHashSig(child: Expression, k: Int, numHashes: Int)
  extends UnaryExpression {

  require(k >= 1 && numHashes >= 1)

  private val p = Dedup.MinhashPrime
  private val coeffsA = Dedup.minhashCoeffs(numHashes).map(_._1).toArray
  private val coeffsB = Dedup.minhashCoeffs(numHashes).map(_._2).toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  /** Reference-object codegen (the stateful sibling of [[WinnowSelect]]'s
    * static invoke — the coefficient arrays live on this instance): the
    * generated call stays inside the whole-stage span and dispatches to
    * [[compute]], the same body nullSafeEval uses. */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("minHashSig", this, classOf[MinHashSig].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  def compute(str: UTF8String): GenericArrayData = {
    val s = str.toString
    val mins = Array.fill(numHashes)(Long.MaxValue)
    def update(shingle: String): Unit = {
      val raw = XxHash64Function.hash(
        UTF8String.fromString(shingle), StringType, 42L)
      val h = ((raw % p) + p) % p
      var i = 0
      while (i < numHashes) {
        val hv = (coeffsA(i) * h + coeffsB(i)) % p
        if (hv < mins(i)) mins(i) = hv
        i += 1
      }
    }
    val words = s.split(" ", -1)
    if (words.length < k) update(s)
    else {
      // distinct shingles: hashing a duplicate twice would not change any
      // minimum, but the dedup keeps hash cost = distinct count, same as
      // the WordShingles -> explode pipeline
      val seen = new java.util.HashSet[String](words.length * 2)
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i <= words.length - k) {
        sb.setLength(0)
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(words(i + j))
          j += 1
        }
        val sh = sb.toString
        if (seen.add(sh)) update(sh)
        i += 1
      }
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  def apply(c: Column, k: Int, numHashes: Int): Column =
    GraftSql.column(MinHashSig(GraftSql.expression(c), k, numHashes))
}
