package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression,
  UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `MinHashSigs(gramHashes, k)` — a document's full k-permutation
  * MinHash signature from its distinct gram-hash array (as produced by
  * [[GramHashes]]) in ONE pass: ARRAY<BIGINT> of length k, or NULL for
  * an empty or NULL array (a document with no n-grams, which the
  * Column formulation dropped at its groupBy). The SQL
  * `minhash_sigs(text, n, k)` is `MinHashSigs(GramHashes(text, n), k)`.
  *
  * Replaces explode([[GramHashes]]) → groupBy(id).agg(k × min(
  * xxhash64(i, gh))): that shape shuffles one row per GRAM and runs k
  * min-aggregates per document, making signature generation the
  * pipeline's widest shuffle. This node folds the k minima in a tight
  * loop — signatures cost one map-side scan. Taking the gram-hash
  * array rather than the text lets a caller that also needs the grams
  * (minhashLshPairs' exact verify) tokenize and hash each document once.
  *
  * Hash parity: family member i of gram hash g is exactly Spark's
  * `xxhash64(lit(i), g)` — XXH64.hashLong(g, XXH64.hashInt(i, 42)) —
  * and min is the same signed-long minimum, so signatures (and
  * therefore candidate sets and the oracle-checked output) are
  * bit-identical to the replaced formulation.
  */
case class MinHashSigs(child: Expression, k: Int)
    extends UnaryExpression {

  require(k >= 1, "need k >= 1")

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else MinHashSigs.compute(v.asInstanceOf[ArrayData], k)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val res = ctx.freshName("sigs")
    nullSafeCodeGen(ctx, ev, c =>
      s"""org.apache.spark.sql.catalyst.util.GenericArrayData $res =
         |  graft.functions.MinHashSigs.compute($c, $k);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $res; }
         |""".stripMargin)
  }
}

object MinHashSigs {

  /** shared by interpreted and codegen paths; null = no grams. */
  def compute(gramHashes: ArrayData, k: Int): GenericArrayData = {
    val ghs = gramHashes.toLongArray()
    val m = ghs.length
    if (m == 0) return null
    val out = new Array[Long](k)
    var i = 0
    while (i < k) {
      val seed = XXH64.hashInt(i, 42L)
      var best = Long.MaxValue
      var g = 0
      while (g < m) {
        val h = XXH64.hashLong(ghs(g), seed)
        if (h < best) best = h
        g += 1
      }
      out(i) = best
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Column-level API over a [[GramHashes]] column. */
  def apply(gramHashes: Column, k: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      MinHashSigs(
        org.apache.spark.sql.GraftBridge.expression(gramHashes), k))
}
