package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hash-sketch primitives for near-duplicate detection: word shingles,
  * MinHash signatures, SimHash. All native Column expressions over
  * `xxhash64` (codegen'd); signatures are computed in one pass over each
  * document with no shuffle — the shuffle happens only later, on the short
  * LSH band keys (see [[graft.operators.Dedup]]), which is what makes the
  * scheme viable at 100 TB.
  */
object HashFunctions {

  /** Mersenne prime 2^31−1 for the universal-hash family h(x) = (a·x + b)
    * mod p. 31-bit (not 61-bit) so a·x stays < 2^62 — Spark 4 runs ANSI
    * mode by default and a 61-bit family would overflow LongType. */
  val Prime: Long = 2147483647L // 2^31 - 1

  /** Deterministic (a, b) coefficient pairs from a fixed seed. */
  def coefficients(n: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(n) {
      (math.abs(rng.nextLong()) % (Prime - 1) + 1, math.abs(rng.nextLong()) % Prime)
    }
  }

  /** Word n-gram shingles of a token array: `n` consecutive tokens joined by
    * a single space. Shorter docs yield their full token string as the one
    * shingle. Distinct-ified (shingle *sets* feed Jaccard). Backed by the
    * native [[WordShingleExpr]] — one compiled loop per document instead of
    * an interpreted higher-order-function lambda per shingle element. */
  def wordShingles(tokens: Column, n: Int): Column = WordShingleExpr(tokens, n)

  /** The declarative (built-in-functions-only) formulation of
    * [[wordShingles]]; value-equivalent, kept as the cross-checked spec for
    * the native expression (see `FunctionsSpec`). */
  def wordShinglesHof(tokens: Column, n: Int): Column = {
    val count = size(tokens)
    val starts = sequence(lit(0), greatest(count - n, lit(0)))
    array_distinct(
      when(count <= n, array(concat_ws(" ", tokens)))
        .otherwise(transform(starts, i => concat_ws(" ", slice(tokens, i + 1, lit(n))))))
  }

  /** Character n-gram shingles (distinct). Native [[CharShingleExpr]] —
    * one compiled loop per document; [[charShinglesHof]] is the
    * declarative spec it is cross-checked against. */
  def charShingles(text: Column, n: Int): Column = CharShingleExpr(text, n)

  /** Declarative (built-in-functions-only) formulation of [[charShingles]];
    * value-equivalent, kept as the cross-checked spec (interpreted
    * substring lambda per position — not for the scan path). */
  def charShinglesHof(text: Column, n: Int): Column = {
    val len = length(text)
    val starts = sequence(lit(1), greatest(len - n + 1, lit(1)))
    array_distinct(
      when(len <= n, array(text))
        .otherwise(transform(starts, i => text.substr(i, lit(n)))))
  }

  /** Null elements are skipped by the native sketch expressions
    * (concat_ws-style); the HOF specs drop them up front so native == HOF
    * holds on null-bearing arrays too (xxhash64(NULL) would otherwise
    * contribute the seed's bits). */
  private def nonNull(tokens: Column): Column = filter(tokens, t => t.isNotNull)

  /** Non-negative base hash of each shingle (nulls skipped). */
  private def baseHashes(shingles: Column): Column =
    transform(nonNull(shingles), s => pmod(xxhash64(s), lit(Prime)))

  /** MinHash signature: array of `numHashes` minima of (a_i·h(x)+b_i) mod p
    * over the shingle set. One compiled pass per document, no shuffle —
    * backed by the native [[MinHashSigExpr]]; [[minHashHof]] is the
    * declarative spec it is cross-checked against (FunctionsSpec). */
  def minHash(shingles: Column, numHashes: Int): Column =
    MinHashSigExpr(shingles, numHashes)

  /** Declarative (built-in-functions-only) formulation of [[minHash]]:
    * value-equivalent on non-empty shingle sets (the native expression
    * returns null for empty sets; this returns an array of nulls). HOF
    * lambdas run interpreted per (shingle × hash) — keep on the spec/test
    * path, not the scan path. */
  def minHashHof(shingles: Column, numHashes: Int, seed: Long = 42L): Column = {
    val hs = baseHashes(shingles)
    val mins = coefficients(numHashes, seed).map { case (a, b) =>
      array_min(transform(hs, h => pmod(h * a + b, lit(Prime))))
    }
    array(mins: _*)
  }

  /** LSH band keys: the signature split into `bands` groups of
    * `numHashes/bands` values, each group reduced to one 64-bit key.
    * Docs sharing ANY band key are candidate near-duplicates. */
  def lshBands(signature: Column, bands: Int, rowsPerBand: Int): Column = {
    val keys = (0 until bands).map { b =>
      val bandSlice = slice(signature, b * rowsPerBand + 1, rowsPerBand)
      struct(lit(b).as("band"), xxhash64(concat_ws(",", bandSlice)).as("key"))
    }
    array(keys: _*)
  }

  /** Exact Jaccard similarity of two pre-distinct shingle arrays: 0.0
    * for two empty sets, null when either is null (under ANSI mode,
    * Spark's default; without it `size` maps a null array to −1). No
    * conditional: an empty union has an empty intersection, so dividing
    * by at least 1 gives its 0.0, and the intersection stays an
    * unconditional subexpression that the generated and interpreted
    * projections both evaluate once per row. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    (inter.cast("double") /
      greatest(size(a) + size(b) - inter, lit(1)).cast("double"))
  }

  /** 64-bit SimHash over a token array: per bit position, sum +1/−1 votes
    * from each token's xxhash64, take the sign. Near-duplicates have small
    * Hamming distance between SimHashes. Expressed as a fold over tokens
    * with a 64-slot vote accumulator — JVM-native, single pass. */
  def simHash(tokens: Column): Column = {
    val votes = aggregate(
      nonNull(tokens),
      array_repeat(lit(0), 64),
      (acc, t) => {
        val h = xxhash64(t)
        zip_with(acc, sequence(lit(0), lit(63)),
          (a, i) => a + when(
            call_function("shiftright", h, i).bitwiseAND(1) === 1, 1).otherwise(-1))
      }
    )
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, i) => when(v > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, bit) => acc.bitwiseOR(bit))
  }

  /** Hamming distance between two 64-bit SimHashes. */
  def hamming(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash LSH keys: the 64 bits split into `chunks` pieces; two hashes
    * within Hamming distance `chunks − 1` share at least one chunk. */
  def simHashChunks(sim: Column, chunks: Int): Column = {
    val width = 64 / chunks
    val mask = (1L << width) - 1
    array((0 until chunks).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(sim, c * width).bitwiseAND(lit(mask)).as("key"))
    }: _*)
  }
}
