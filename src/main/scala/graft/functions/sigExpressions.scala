package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Codegen'd in-row document signatures over the gram-hash array (guide
  * §2.4: remove shuffles outright). MinHash minima, SimHash bit counters
  * and the rolling fingerprint are order-insensitive integer folds over a
  * document's OWN grams, so they need neither the gram explode nor the
  * groupBy(doc_id) exchange the previous plans paid — the signature is a
  * per-row projection straight off the scan, at any corpus size. All
  * arithmetic is the exact Long arithmetic of the aggregate formulation
  * (min/sum/count over integers commute and associate, unlike FP), so the
  * values are identical, not approximately equal.
  *
  * Empty-gram documents: the old explode DROPPED docs with no bigrams; a
  * doc has >= 1 word bigram iff its text contains a space (split-limit -1
  * semantics: even empty segments count as words), so callers replicate
  * the drop with `filter($"text".contains(" "))` BEFORE the projection —
  * a pushable scan predicate referencing no computed column (filtering on
  * the signature column itself would make the optimizer duplicate the
  * whole hash computation below the pushed filter, guide §4.4). The
  * expressions additionally return NULL for an empty array (the
  * aggregate formulation produced no row at all), so a future caller
  * that forgets the filter gets visible nulls instead of a silent
  * sentinel signature every bigram-less doc would share. */
object SigOps {
  /** All numHashes MinHash minima in one pass:
    * sig(j-1) = min over h of (h*(2j+1) + j*12345) mod prime, j = 1..n —
    * the identical per-j Long expression the groupBy-min aggregated. */
  def minhashSigs(a: ArrayData, numHashes: Int, prime: Long): ArrayData = {
    val n = a.numElements()
    val out = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = a.getLong(i)
      var j = 1
      while (j <= numHashes) {
        val v = (h * (2 * j + 1) + j * 12345L) % prime
        if (v < out(j - 1)) out(j - 1) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** 16-bit (parameterized) SimHash: counter_k = Σ (+1 if bit k of h else
    * -1), bit set iff counter_k > 0 — identical to the
    * sum(when(h % 2^(k+1) >= 2^k, 1).otherwise(-1)) aggregation and the
    * strict > 0 vote. */
  def simhashBits(a: ArrayData, bits: Int): Long = {
    val n = a.numElements()
    val acc = new Array[Long](bits)
    var i = 0
    while (i < n) {
      val h = a.getLong(i)
      var k = 0
      while (k < bits) {
        val p = 1L << k
        acc(k) += (if ((h % (2 * p)) >= p) 1L else -1L)
        k += 1
      }
      i += 1
    }
    var s = 0L
    var k = 0
    while (k < bits) { if (acc(k) > 0) s += 1L << k; k += 1 }
    s
  }

  /** (Σ h mod p + count) mod p — Long sum is associative, so the in-row
    * fold equals the exploded sum()/count() aggregation exactly. */
  def fingerprintOf(a: ArrayData, prime: Long): Long = {
    val n = a.numElements()
    var s = 0L
    var i = 0
    while (i < n) { s += a.getLong(i); i += 1 }
    (s % prime + n) % prime
  }
}

/** minhash_sigs(hashes) -> array<long>[numHashes]: all MinHash minima in
  * one array pass. */
case class MinhashSigs(child: Expression, numHashes: Int, prime: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  // null on an empty gram array, also for a non-nullable child
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_sigs"
  override protected def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    if (arr.numElements() == 0) null
    else SigOps.minhashSigs(arr, numHashes, prime)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      if ($c.numElements() == 0) { ${ev.isNull} = true; }
      else { ${ev.value} =
        graft.functions.SigOps.minhashSigs($c, $numHashes, ${prime}L); }""")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** simhash_bits(hashes) -> long: the `bits`-bit SimHash vote. */
case class SimhashBits(child: Expression, bits: Int) extends UnaryExpression {
  override def dataType: DataType = LongType
  // null on an empty gram array, also for a non-nullable child
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash_bits"
  override protected def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    if (arr.numElements() == 0) null else SigOps.simhashBits(arr, bits)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      if ($c.numElements() == 0) { ${ev.isNull} = true; }
      else { ${ev.value} = graft.functions.SigOps.simhashBits($c, $bits); }""")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** gram_fingerprint(hashes) -> long: (sum mod p + count) mod p. */
case class GramFingerprint(child: Expression, prime: Long)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  // null on an empty gram array, also for a non-nullable child
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "gram_fingerprint"
  override protected def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    if (arr.numElements() == 0) null else SigOps.fingerprintOf(arr, prime)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      if ($c.numElements() == 0) { ${ev.isNull} = true; }
      else { ${ev.value} = graft.functions.SigOps.fingerprintOf($c, ${prime}L); }""")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
