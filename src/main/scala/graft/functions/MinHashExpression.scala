package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native MinHash signature over a shingle array, one compiled pass per
  * document: per shingle, h = xxhash64(s, seed 42) mod p (identical values
  * to Spark's `xxhash64` + `pmod`), then the running minimum of
  * (a_i·h + b_i) mod p for each of the `numHashes` universal-hash
  * coefficient pairs ([[HashFunctions.coefficients]], Mersenne p = 2^31−1).
  *
  * Why a custom expression — the scale argument, in order of what it
  * replaces:
  *  - the HOF formulation ([[HashFunctions.minHashHof]]) evaluates an
  *    interpreted lambda per (shingle × hash) — O(64·|shingles|)
  *    interpreter steps per document on the hottest scan-side path;
  *  - the explode + 64-min-aggregates formulation (Dedup's previous plan)
  *    is codegen'd but EXCHANGES every exploded shingle hash to group back
  *    by document id — at 100 TB that shuffle carries ~|corpus|·|shingles|
  *    rows, dwarfing the band-key exchange that LSH actually needs.
  * This expression computes the signature where the document already is:
  * no explode, no aggregation, no exchange. Empty shingle arrays yield
  * null (such documents have no signature; both prior formulations also
  * produced no usable signature for them).
  */
case class MinHashSigExpr(child: Expression, numHashes: Int, seed: Long = 42L)
    extends UnaryExpression with KernelCodegen {

  require(numHashes >= 1, "numHashes must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  private val prime = HashFunctions.Prime
  // coefficient pairs flattened once at plan time
  private val (as, bs) = {
    val cs = HashFunctions.coefficients(numHashes, seed)
    (cs.map(_._1).toArray, cs.map(_._2).toArray)
  }

  override def nullSafeEval(input: Any): Any = {
    val shingles = input.asInstanceOf[ArrayData]
    val n = shingles.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var seen = false
    var t = 0
    while (t < n) {
      val s = shingles.getUTF8String(t)
      if (s != null) {
        seen = true
        val h = java.lang.Math.floorMod(XXH64.hashUTF8String(s, 42L), prime)
        var i = 0
        while (i < numHashes) {
          val v = java.lang.Math.floorMod(h * as(i) + bs(i), prime)
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      t += 1
    }
    if (!seen) null else new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSigExpr =
    copy(child = newChild)
}

object MinHashSigExpr {
  def apply(shingles: Column, numHashes: Int): Column =
    Bridge.column(MinHashSigExpr(Bridge.expression(shingles), numHashes))
}
