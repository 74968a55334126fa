package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import graft.core.BroadcastGate
import graft.core.DriverEval.{bound, localFrame}
import graft.functions.{HashFunctions => H, TextFunctions => T, VectorFunctions => V}

/** Deduplication operators for training-data pipelines, designed for the
  * 100 TB shape: signatures are computed scan-side in one pass (no UDFs,
  * no driver collection); the only shuffles are (a) the group-by on short
  * keys for exact dedup and (b) the band-key exchange for LSH candidate
  * generation. Candidate buckets are size-capped so one degenerate key
  * cannot quadratically blow up a task (skew guard). Below measured
  * gates, [[minHashLsh]] and [[clusters]] serve small inputs on the
  * driver from one bounded collect instead.
  *
  * Cache lifecycle: the pair operators persist their multi-consumer
  * intermediates (shingles / sketches / size-gate small sides) with
  * MEMORY_AND_DISK, and every persist is armed with
  * [[graft.core.CacheAutoRelease]] — the cache is dropped as soon as the
  * first query that consumed it completes, so a long-running driver that
  * constructs many operators does not accumulate cached relations.
  * NOTE: constructing a pair/dedup/decontaminate operator runs small EAGER
  * jobs (the size-gate membership probes) before any caller action — plan
  * construction is not free here, by design: the probe is what lets the
  * plan choose broadcast vs shuffle from the MEASURED size. The gate is
  * fixed: a small side of at most 1,000,000 rows is broadcast
  * (10,000,000 for the decontaminate operators), a larger one joins
  * shuffled. Re-executing a returned DataFrame after its first action
  * recomputes the intermediates (correct, uncached);
  * `spark.catalog.clearCache()` remains the big hammer (graft.Verify/Bench
  * still use it between queries).
  *
  * The pair operators share one copy of each block: band keys
  * ([[bandKeys]]), the overfull-key cap ([[overfullKeys]]), the
  * shingle-intersection core ([[sharedShingles]]) and the cosine verify
  * ([[cosineVerified]]).
  */
object Dedup {

  /** The decontaminate operators' gate: their small sides (the eval set's
    * shingles, the contaminated ids) are tiny next to the corpus. */
  private val DecontaminateGateRows = 10000000L

  /** Signature length of the minhash prefilter of the Jaccard pair
    * operators; the band count follows the threshold ([[autoBands]]). */
  private val PrefilterHashes = 128

  /** The word-shingle set of a text column: lower-cased, tokenized word
    * `n`-grams, distinct per document. */
  private def wordShingles(textCol: String, n: Int): Column =
    H.wordShingles(T.tokens(lower(col(textCol))), n)

  /** Per-document LSH band keys: native MinHash signature over `shingles`
    * → `bands` band hashes → one (idCol, `keyCol`) row per band, key as a
    * string. Documents with empty shingle sets (null signature) have
    * nothing to band and are dropped. */
  private def bandKeys(rel: DataFrame, idCol: String, shingles: Column,
                       numHashes: Int, bands: Int,
                       keyCol: String = "__key"): DataFrame =
    rel.select(col(idCol), H.minHash(shingles, numHashes).as("__sig"))
      .filter(col("__sig").isNotNull)
      .select(col(idCol),
        explode(bandKeyArray(col("__sig"), numHashes, bands)).as(keyCol))

  /** A signature's `bands` band keys, each as a string: the one
    * definition [[bandKeys]] explodes and [[driverLshPairs]] evaluates. */
  private def bandKeyArray(sig: Column, numHashes: Int, bands: Int): Column =
    H.lshBands(sig, bands, math.max(1, numHashes / bands))
      .cast("array<string>")

  /** The overfull-key cap of every bucketed join here: the values of `key`
    * held by more than `cap` rows of `counted`, size-gated ([[sizeGated]])
    * for an anti join off the relation they cap (`counted` may differ from
    * it: a document-frequency cap counts distinct (id, key) rows). Sizes
    * come from a group-by (map-side partial counts — a hot key combines per
    * task), NOT a `count over (partition by key)` window: the window would
    * route every row of a degenerate key to one task and sort-buffer it
    * there BEFORE the cap could drop it, recreating at the sizing step the
    * very hot spot the cap exists to prevent. The set is ≤ |counted|/cap
    * entries by construction, so the anti join broadcasts in the common
    * case and degrades to a shuffled join past the gate. Gate once and
    * reuse the result: each gate persists its input. */
  private def overfullKeys(counted: DataFrame, key: String,
                           cap: Long): DataFrame =
    sizeGated(counted.groupBy(key)
      .agg(count(lit(1)).as("__bucket_n"))
      .filter(col("__bucket_n") > cap)
      .select(key))

  /** Exact dedup: keep exactly one row per key set — the minimal `keepBy`
    * row (deterministic, unlike `dropDuplicates` which keeps an arbitrary
    * one). One shuffle+sort on the keys; a min-agg + join-back would be two
    * shuffles and would re-emit ties on (keys, keepBy). Ties on
    * (keys, keepBy) break on a 64-bit hash of the remaining hashable
    * columns — a single long sort key computed scan-side, so the window
    * comparator never drags multi-KB payloads through the sort. The
    * surviving row is deterministic up to 64-bit hash collisions among
    * tied rows (rows identical in every hashed column are
    * interchangeable). */
  def exact(df: DataFrame, keys: Seq[String], keepBy: String): DataFrame = {
    val rest = df.schema.fields
      .filter(f => !keys.contains(f.name) && f.name != keepBy &&
        !f.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
      .map(f => col(f.name)).toSeq
    val tieBreak =
      if (rest.isEmpty) Seq.empty else Seq(xxhash64(rest: _*))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(keepBy) +: tieBreak: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Exact dedup by content fingerprint (md5 of normalized text): the
    * 100 TB-friendly variant — the shuffle key is 32 bytes instead of the
    * document body. Keeps each fingerprint's rows whose id is its least
    * id (ties on (fingerprint, id) all survive); rows with a null
    * fingerprint or a null id are dropped. Planned as ONE exchange: the
    * least id is a window over the fingerprint, not an aggregate joined
    * back, which shuffled both sides before adaptive execution could
    * turn the join into a broadcast. Every copy of one text goes to one
    * task (the window sorts, and spills, what it cannot hold); measured
    * with one text on 10% or 50% of 1 M and 3 M rows, the window still
    * took about half the aggregate + join's time (SCALEPROBE.json
    * `fingerprint_skew`). */
  def exactByFingerprint(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__fp"))
    graft.core.ScanParallelism.ensure(df)
      .withColumn("__fp", T.fingerprint(col(textCol)))
      .withColumn("__min", min(col(idCol)).over(w))
      .filter(col("__fp").isNotNull && col(idCol) === col("__min"))
      .drop("__fp", "__min")
  }

  /** Candidate pairs from any exploded (id, key) relation: self-join within
    * key buckets, capped at `maxBucket` ids per key to guard against skew
    * (a degenerate key — empty docs, boilerplate — would otherwise create a
    * quadratic bucket; the cap drops only those keys, and typical
    * near-duplicates co-occur in several bands so recall survives). The
    * OVERFULL keys are removed with [[overfullKeys]]' size-gated anti
    * join, so the keyed relation is not exchanged for the cap in the
    * common case. */
  private def pairsFromBuckets(keyed: DataFrame, idCol: String,
                               maxBucket: Int): DataFrame = {
    // (id, key) rows are consumed by the sizing aggregate (forced eagerly
    // by the gate's count) and by both pair-join sides; persist so the
    // band/bucket keys are derived from the documents exactly once
    val k = keyed.persist(StorageLevel.MEMORY_AND_DISK)
    val sized = k.join(overfullKeys(k, "__key", maxBucket), Seq("__key"),
      "left_anti")
    // NOTE a bucket-grouped positional pair emission (one exchange — see
    // groupedExactPairs in sharedShingles) was tried here and
    // REVERTED: LSH band/chunk buckets are mostly 1-2 ids, where the
    // collect_list + double-explode machinery measured SLOWER than this
    // self-join (embcos_pairs 0.67 -> 1.04 s steady-state at sf0.1); the
    // grouped form pays off only for meaty bounded buckets (the
    // maxDf-capped exact-Jaccard path).
    val a = sized.select(col("__key"), col(idCol).as("id_a"))
    val b = sized.select(col("__key"), col(idCol).as("id_b"))
    val pairs = a.join(b, Seq("__key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
    // registered after the gate probe above populated the cache
    graft.core.CacheAutoRelease.afterFirstUse(k)
    pairs
  }

  /** Default band count for the minhash prefilter at a given `threshold`:
    * the largest rows-per-band r (among divisors of `numHashes`, 16 down
    * to 1) whose band count still gives ≥95% per-pair recall at
    * jaccard = threshold — 1−(1−t^r)^b ≥ 0.95 ⟺ b ≥ ln 20 / t^r ≈ 3/t^r.
    * Larger r = fewer, more selective candidate buckets; r must shrink as
    * the threshold drops or recall collapses (at t = 0.1, r = 2 misses
    * half the threshold-level pairs — the reason this is derived from the
    * threshold instead of fixed). threshold ≤ 0 degrades to r = 1, the
    * highest-recall banding (no finite b guarantees recall at t = 0 —
    * use an exact strategy there). */
  private[graft] def autoBands(numHashes: Int, threshold: Double): Int = {
    val r = Seq(16, 8, 4, 2)
      .filter(r => r <= numHashes && numHashes % r == 0)
      .find(r => threshold > 0.0 &&
        (numHashes / r).toDouble >= 3.0 / math.pow(threshold, r))
      .getOrElse(1)
    numHashes / r
  }

  /** Attach each pair side's payload: every non-id column of `byId` joins
    * in twice, suffixed `_a`/`_b` — the shared verification-join shape of
    * the pair operators. */
  private def withPairPayloads(pairs: DataFrame, byId: DataFrame,
                               idCol: String): DataFrame = {
    def side(suffix: String) =
      byId.columns.foldLeft(byId) { (d, c) =>
        d.withColumnRenamed(c, if (c == idCol) s"id$suffix" else s"$c$suffix")
      }
    pairs.join(side("_a"), Seq("id_a")).join(side("_b"), Seq("id_b"))
  }

  /** MinHash + LSH near-duplicate pairs over a text column.
    *
    * shingle → minhash signature → band keys → bucket join → exact-Jaccard
    * verification. Returns (id_a, id_b, jaccard) with jaccard ≥ threshold.
    * Only the (id, bandKey) pairs and the final candidate ids are shuffled;
    * signatures/shingles are recomputed or carried per side as needed.
    *
    * Small inputs are served on the driver. The gate counts work, not
    * documents: a document weighs its shingles + 64 ([[shingleWeight]]:
    * each shingle is hashed once per hash function, and the 64 is its
    * measured fixed cost), and its signature costs that weight ×
    * `numHashes` hash evaluations. The shingled input is persisted, then
    * probed with one collect job ([[probeShingles]]) that ships at most
    * [[DriverHashes]] / max(`numHashes`, 64) of weight to the driver. When
    * the whole batch fits in that, and the candidate pairs of the band
    * buckets within `maxBucket` weigh at most [[DriverPairWork]] (counted
    * before any pair is emitted), the signatures, band keys and Jaccard
    * scores are the Spark plan's own expressions, evaluated on the driver
    * ([[driverLshPairs]]), and the pairs come back as a local relation:
    * the probe's jobs are the whole cost, and a consumer of the pairs
    * ([[dropNearDuplicates]], [[clusters]]) plans over them without a job.
    * Otherwise, or when the id type has no driver ordering (long, int and
    * string ids have one), the Spark plan runs over the same persisted
    * input, which the probe has filled. Both paths return the same rows,
    * `jaccard` bit for bit (DedupSpec).
    */
  def minHashLsh(df: DataFrame, textCol: String, idCol: String,
                 shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
                 threshold: Double = 0.5, maxBucket: Int = 1000): DataFrame =
    minHashLshGated(df, textCol, idCol, shingleSize, numHashes, bands,
      threshold, maxBucket)

  /** Signature work at or below which [[minHashLsh]] may serve on the
    * driver, in hash evaluations: Σ over the batch's documents of
    * [[shingleWeight]] × max(`numHashes`, 64) (a narrower signature is
    * charged as the default width, so the probe never ships more than
    * DriverHashes / 64 = 500,000 of weight). The driver path computes the
    * signatures on one thread, interpreted; the Spark plan spreads them
    * over the cores for a fixed per-job cost.
    * MEASURED (SCALEPROBE.json `dedup_gate`, local[4] on a 4-core box,
    * the Spark side timed after the gate's own probe): with no planted
    * copies, the driver won every point up to at least 49 M in each of six
    * series (documents of 10, 50, 500 and 2000 words at 64 hashes, 50 and
    * 500 at 256). The lowest last wins and first losses were at 2000
    * words, 64 hashes (49.2 M: 0.66 s vs 0.89 s; 98.4 M: 1.24 s vs 1.21
    * s) and 500 words, 64 hashes (55.4 M: 0.74 s vs 0.79 s; 110.8 M: 1.66
    * s vs 1.42 s); at 50 words the driver won up to 105 M (16 k
    * documents, 1.59 s vs 1.88 s at 64 hashes; 4 k documents, 1.53 s vs
    * 1.86 s at 256). The bound sits below every one of those crossovers. */
  private[graft] val DriverHashes: Long = 32000000L

  /** Candidate-pair work at or below which [[minHashLsh]] may serve on the
    * driver: Σ over the band buckets within `maxBucket` of (n − 1) × the
    * bucket's summed [[shingleWeight]]s, which is every candidate pair's
    * two weights, once per bucket the pair shares. The driver emits each
    * candidate and scores each distinct pair with the interpreted Jaccard,
    * whose cost grows with both shingle sets.
    * MEASURED (SCALEPROBE.json `dedup_gate`, as [[DriverHashes]]): in
    * clumps of 64 exact copies the driver won every point up to at least
    * 130 M in each of five series (10, 50 and 500 words at 64 hashes, 50
    * and 500 at 256). The lowest last win was at 500 words, 64 hashes
    * (130 M: 3.20 s vs 4.37 s; lost at 342 M: 8.94 s vs 4.43 s), then 10
    * words (195 M: 1.25 s vs 1.61 s; lost at 373 M: 2.55 s vs 2.04 s).
    * The bound sits well below those crossovers: the Spark side's
    * timings in these series spread widely from size to size, and a
    * refusal here comes after the driver has already spent up to
    * [[DriverHashes]] on signatures. */
  private[graft] val DriverPairWork: Long = 25000000L

  /** [[minHashLsh]] with its driver gate as parameters: tests and the
    * `dedup_gate` sweep pin either path with them (`driverHashes = 0`
    * takes the Spark plan after a probe that ships nothing;
    * `serveOnDriver = false` takes it after the probe the gate runs, as a
    * call over the gate does); operators keep the fixed constants. */
  private[graft] def minHashLshGated(df: DataFrame, textCol: String,
                                     idCol: String, shingleSize: Int = 3,
                                     numHashes: Int = 64, bands: Int = 16,
                                     threshold: Double = 0.5,
                                     maxBucket: Int = 1000,
                                     driverHashes: Long = DriverHashes,
                                     driverPairWork: Long = DriverPairWork,
                                     serveOnDriver: Boolean = true)
      : DataFrame = {
    // Shingling is the expensive scan-side computation and is consumed by
    // three branches (signature computation + both verification joins);
    // persist it once instead of recomputing per branch. MEMORY_AND_DISK:
    // at cluster scale this relation exceeds memory and spills, which is
    // still far cheaper than re-tokenizing the corpus per branch.
    // The signature inside bandKeys is the native MinHashSigExpr:
    // one compiled pass per document, entirely scan-side. The previous
    // explode + 64-min-aggregate plan produced identical values but
    // exchanged every exploded shingle hash to regroup by document — at
    // corpus scale that shuffle carries |corpus|·|shingles| rows and
    // dwarfs the band-key exchange LSH actually needs.
    val shingled = graft.core.ScanParallelism.ensure(df).select(col(idCol),
      wordShingles(textCol, shingleSize).as("__shingles"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the probe: one collect job, which also fills the cache the Spark
    // plan reads when the gate says no
    val onDriver = driverMinOrdering(shingled.schema(idCol).dataType)
      .flatMap { ord =>
        probeShingles(shingled, driverHashes / math.max(numHashes, 64))
          .filter(_ => serveOnDriver)
          .flatMap(driverLshPairs(shingled, _, ord, numHashes, bands,
            threshold, maxBucket, driverPairWork))
      }
    onDriver match {
      case Some(pairs) =>
        shingled.unpersist(blocking = false)
        pairs
      case None =>
        val pairs = pairsFromBuckets(bandKeys(shingled, idCol,
          col("__shingles"), numHashes, bands), idCol, maxBucket)
        val shingles = shingled.select(col(idCol), col("__shingles"))
        val result = withPairPayloads(pairs, shingles, idCol)
          .withColumn("jaccard", H.jaccard(col("__shingles_a"), col("__shingles_b")))
          .filter(col("jaccard") >= threshold)
          .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
        graft.core.CacheAutoRelease.afterFirstUse(shingled)
        result
    }
  }

  /** The unit of [[minHashLsh]]'s driver gate: an (id, `__shingles`)
    * row weighs its shingles + [[DocWeight]] (a null shingle set weighs
    * [[DocWeight]]). */
  private def shingleWeight(r: Row): Long =
    (if (r.isNullAt(1)) 0L else r.getSeq[Any](1).length.toLong) + DocWeight

  /** A document's fixed weight in [[minHashLsh]]'s gate, in shingles.
    * Its band keys, their bucketing and its row cost the driver path about
    * as much as 64 more shingles, at either signature width measured:
    * fitted to a first `dedup_gate` sweep that weighed a document by its
    * shingles + 1, where at 64 hashes the driver paid ≈ 70 µs per document
    * beyond ≈ 15 ns per hash evaluation (10-word documents lost from 29 M
    * hash evaluations, while 2000-word ones still won at 30 M), and at
    * 256 hashes (4× the band keys) about 3× that per document. */
  private val DocWeight = 64L

  /** [[minHashLsh]]'s probe: the (id, `__shingles`) rows of `shingled`,
    * collected in one job, when they weigh at most `weight` in all
    * ([[shingleWeight]]), else None. Each of the P partitions ships rows
    * only while they stay within weight / P, so the driver never holds
    * more than `weight`; a batch under `weight` but skewed across its
    * partitions is refused, and the Spark plan serves it with the same
    * rows. A persisted `shingled` is cached in full by the probe. */
  private[graft] def probeShingles(shingled: DataFrame,
                                   weight: Long): Option[Array[Row]] = {
    val rdd = shingled.rdd
    val share = weight / math.max(1, rdd.getNumPartitions)
    val parts = rdd.mapPartitions { it =>
      var left = share
      val rows = mutable.ArrayBuffer.empty[Row]
      while (left >= 0 && it.hasNext) {
        val r = it.next()
        left -= shingleWeight(r)
        rows += r
      }
      Iterator(if (left >= 0) Some(rows.toArray) else None)
    }.collect()
    if (parts.forall(_.isDefined)) Some(parts.flatMap(_.get)) else None
  }

  /** [[minHashLsh]]'s two gate measures of a corpus, computed by Spark
    * from the same shingles and band keys: (signature work, candidate-pair
    * work), as [[DriverHashes]] and [[DriverPairWork]] count them. For the
    * `dedup_gate` sweep and the specs. */
  private[graft] def gateMeasures(df: DataFrame, textCol: String,
                                  idCol: String, shingleSize: Int = 3,
                                  numHashes: Int = 64, bands: Int = 16,
                                  maxBucket: Int = 1000): (Long, Long) = {
    val weighted = df.select(wordShingles(textCol, shingleSize).as("__sh"))
      .select(col("__sh"), (when(col("__sh").isNull, lit(0L))
        .otherwise(size(col("__sh")).cast("long")) + DocWeight).as("__w"))
    val weight = weighted.agg(coalesce(sum(col("__w")), lit(0L))).head.getLong(0)
    val pairWork = weighted
      .select(col("__w"), H.minHash(col("__sh"), numHashes).as("__sig"))
      .filter(col("__sig").isNotNull)
      .select(col("__w"), explode(bandKeyArray(col("__sig"), numHashes, bands))
        .as("__key"))
      .filter(col("__key").isNotNull)
      .groupBy("__key").agg(count(lit(1)).as("__n"), sum(col("__w")).as("__w"))
      .filter(col("__n") <= maxBucket)
      .agg(coalesce(sum((col("__n") - 1) * col("__w")), lit(0L))).head.getLong(0)
    (weight * math.max(numHashes, 64), pairWork)
  }

  /** [[minHashLsh]]'s pairs computed on the driver from the collected
    * (id, `__shingles`) `rows` of `shingled`, as a local relation, or
    * None when the candidate pairs of the band buckets within `maxBucket`
    * weigh more than `maxPairWork` ([[DriverPairWork]]). Every step is the
    * Spark plan's: the signature and band keys ([[bandKeyArray]]) and the
    * Jaccard score, its threshold and rounding are its expressions, bound
    * and interpreted; a null signature bands nothing; a key held by more
    * than `maxBucket` rows is dropped ([[overfullKeys]]' rule); a bucket
    * pairs its non-null ids with `ord` as the plan's `id_a < id_b`, each
    * pair once; and each pair is scored for every row of either id, as the
    * plan's payload joins do. */
  private def driverLshPairs(shingled: DataFrame, rows: Array[Row],
                             ord: Ordering[Any], numHashes: Int, bands: Int,
                             threshold: Double, maxBucket: Int,
                             maxPairWork: Long): Option[DataFrame] = {
    val spark = shingled.sparkSession
    val schema = shingled.schema
    val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToCatalystConverter(schema)
    val in = rows.map(r => toCatalyst(r).asInstanceOf[InternalRow])
    val sig = bound(spark, schema,
      H.minHash(col("__shingles"), numHashes).as("__sig"))
    val keys = bound(spark, sig.schema,
      bandKeyArray(col("__sig"), numHashes, bands)).exprs.head
    val buckets = mutable.HashMap.empty[UTF8String, mutable.ArrayBuffer[Int]]
    in.indices.foreach { i =>
      val s = sig.exprs.head.eval(in(i))
      if (s != null) {
        val ks = keys.eval(InternalRow(s)).asInstanceOf[ArrayData]
        for (j <- 0 until ks.numElements() if !ks.isNullAt(j))
          buckets.getOrElseUpdate(ks.getUTF8String(j),
            mutable.ArrayBuffer.empty[Int]) += i
      }
    }
    val kept = buckets.values.filter(_.length <= maxBucket).toSeq
    val weight = rows.map(shingleWeight)
    if (kept.iterator.map(b => (b.length - 1L) * b.iterator.map(weight(_)).sum)
        .sum > maxPairWork) return None
    val ids = rows.map(_.get(0))
    val pairs = mutable.LinkedHashSet.empty[(Any, Any)]
    for (b <- kept; x <- b.indices; y <- x + 1 until b.length) {
      val (a, c) = (ids(b(x)), ids(b(y)))
      if (a != null && c != null) {
        val cmp = ord.compare(a, c)
        if (cmp < 0) pairs += (a -> c) else if (cmp > 0) pairs += (c -> a)
      }
    }
    val shField = schema("__shingles")
    val jaccard = bound(spark, StructType(Seq(
        shField.copy(name = "__shingles_a"), shField.copy(name = "__shingles_b"))),
      H.jaccard(col("__shingles_a"), col("__shingles_b")).as("jaccard"))
    val scored = bound(spark, jaccard.schema,
      col("jaccard") >= threshold, round(col("jaccard"), 6).as("jaccard"))
    val byId = rows.indices.filter(ids(_) != null).groupBy(ids(_))
    val shingles = in.map(_.get(1, shField.dataType))
    val out = for ((a, c) <- pairs.toArray; i <- byId(a); j <- byId(c);
                   r = scored(jaccard(
                     InternalRow(shingles(i), shingles(j)))).copy()
                   if !r.isNullAt(0) && r.getBoolean(0))
      yield Row(a, c, r.getDouble(1))
    val idField = schema(0)
    Some(localFrame(spark, out, StructType(Seq(
      idField.copy(name = "id_a"), idField.copy(name = "id_b"),
      scored.schema(1)))))
  }

  /** The persistable per-document LSH band keys of a corpus — the
    * incremental-ingest STATE for [[minHashLshAgainst]]: one (idCol,
    * band_key) row per document per band, from the same scan-side
    * shingle → native-MinHash-signature → band pipeline [[minHashLsh]]
    * uses. Write this once for the retained corpus, append each accepted
    * batch's keys after ingest (the same standing-state discipline as
    * `Similarity.ivfPqAppend`), and pass it as `oldKeys` — then a batch
    * costs one scan of the BATCH plus a key join, never a re-tokenization
    * of the corpus. All banding parameters must match between the stored
    * keys and the queries that consume them. */
  def minHashBandKeys(df: DataFrame, textCol: String, idCol: String,
                      shingleSize: Int = 3, numHashes: Int = 64,
                      bands: Int = 16): DataFrame =
    bandKeys(df, idCol, wordShingles(textCol, shingleSize), numHashes, bands,
      keyCol = "band_key")

  /** Incremental MinHash-LSH: near-duplicate pairs of an incoming batch
    * against an existing corpus PLUS within the batch itself — never
    * re-pairing the corpus against itself. This is the batch form of the
    * 100 TB ingest loop (the streaming form with durable signature state
    * is [[graft.streaming.StreamOps.dedupeNearAgainstStore]]): each
    * ingested slice is checked against everything already retained, and
    * the already-retained corpus — which has already been deduplicated —
    * pays only its band-key side, not the quadratic-ish candidate
    * self-join it already paid once. Candidate generation is the same
    * banded-signature exchange as [[minHashLsh]]; the bucket join is
    * newKeys ⋈ (newKeys ∪ oldKeys) instead of a self-join, so candidate
    * volume is |new|-proportional.
    *
    * `oldKeys` (optional) is the amortized-state fast path: pass the
    * persisted [[minHashBandKeys]] relation of the retained corpus
    * (banding parameters must match) and the old side is never
    * re-tokenized — `oldDf` is then touched ONLY to re-shingle the
    * (rare) candidate documents for exact verification, behind a
    * size-gated candidate-id semi-join that pushes the id filter into
    * the old corpus scan. Without it, the old side pays one full
    * shingle+signature scan per batch (correct, but the cost the stored
    * keys exist to amortize; SCALEPROBE `incremental_dedup_scale`
    * measures both regimes).
    *
    * Returns (id_new, id_other, other_is_new, jaccard ≥ threshold):
    * `id_new` is always from `newDf`; `other_is_new` says whether the
    * duplicate is within-batch (then id_new < id_other, each batch pair
    * emitted once) or against the old corpus (directional, new on the
    * left). Ids SHOULD be globally unique across both sides; a new row
    * re-using an old row's id is still matched and emitted (the re-ingest
    * case), flagged by `other_is_new = false`. `maxBucket` caps band
    * buckets by their COMBINED (old + new) size — the same mass-boilerplate
    * fan-out bound as the self-join path. */
  def minHashLshAgainst(newDf: DataFrame, oldDf: DataFrame,
                        textCol: String, idCol: String,
                        shingleSize: Int = 3, numHashes: Int = 64,
                        bands: Int = 16, threshold: Double = 0.5,
                        maxBucket: Int = 1000,
                        oldKeys: Option[DataFrame] = None): DataFrame = {
    // NOTE deliberately NOT routed through ScanParallelism.ensure: the
    // word-shingle pass over a small batch is cheap enough that the gated
    // repartition's extra exchange + task fan-out measured SLOWER
    // (incremental_dedup 1.46 s → 2.29 s steady-state at sf0.1)
    def shingle(d: DataFrame) = d.select(col(idCol),
      wordShingles(textCol, shingleSize).as("__shingles"))
    // the batch's shingles feed the band-key branch and both verification
    // branches; persist so batch tokenization runs once
    val shNew = shingle(newDf).persist(StorageLevel.MEMORY_AND_DISK)
    def keyed(rel: DataFrame) =
      bandKeys(rel, idCol, col("__shingles"), numHashes, bands)
    // the new side's keys are both a join input and part of the union —
    // persist so the signature pass over the batch runs once
    val kNew = keyed(shNew).persist(StorageLevel.MEMORY_AND_DISK)
    // old shingles are materialized only on the no-stored-keys path; with
    // oldKeys the verification side re-shingles candidates alone
    val shOldFull = oldKeys match {
      case None => Some(shingle(oldDf).persist(StorageLevel.MEMORY_AND_DISK))
      case Some(_) => None
    }
    // STORED-keys path only: restrict the old side's keys to bands the
    // BATCH actually emits, BEFORE anything exchanges them. Candidates
    // form only where a new key matches (candNew ⋈ candAll is an inner
    // join on __key) and the maxBucket cap only matters for keys that can
    // form candidates, so stored keys on batch-absent bands are dead
    // rows — yet they dominated the bucket-count groupBy's exchange, and
    // the stored-keys relation is CORPUS-sized at the 100 TB ingest loop
    // this path amortizes (its whole point is that a batch costs batch
    // work, not corpus work). Under the size gate this is a broadcast
    // semi join that never exchanges the stored side at all (guide §3.2 —
    // pre-filter the big side before the shuffle); above it a shuffled
    // semi join that exchanges the stored keys once, no worse than the
    // union+groupBy did. Emitted pairs are identical: every dropped row's
    // key joins nothing downstream (DedupSpec pins oldKeys/None parity).
    // The None path deliberately keeps the plain union: its old side is
    // re-tokenized in full anyway, and the r22 A/B measured the semi
    // join's extra gate probe + plan growth at ~+0.4 s steady-state on
    // incremental_ingest (`Dev profile` 2.3–2.9 s → 2.7–3.3 s, 29 → 36
    // jobs) against a KiB-scale exchange saving at sf0.1.
    val kOld = oldKeys match {
      case Some(keys) => sizeGatedFilterJoin(
        keys.select(col(idCol), col("band_key").as("__key")),
        kNew.select("__key").distinct(), Seq("__key"), "left_semi")
      case None => keyed(shOldFull.get)
    }
    val kAll = kNew.withColumn("__onew", lit(true))
      .unionByName(kOld.withColumn("__onew", lit(false)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // gated once, read by both anti joins
    val bigKeys = overfullKeys(kAll, "__key", maxBucket)
    val candNew = kNew.join(bigKeys, Seq("__key"), "left_anti")
      .select(col("__key"), col(idCol).as("id_new"))
    val candAll = kAll.join(bigKeys, Seq("__key"), "left_anti")
      .select(col("__key"), col(idCol).as("id_other"), col("__onew"))
    val cands = candNew.join(candAll, Seq("__key"))
      // within-batch pairs once each; old-side pairs keep every id match
      // (same id = the re-ingest case)
      .filter(!col("__onew") || col("id_new") < col("id_other"))
      .select(col("id_new"), col("id_other"), col("__onew"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // old-side verification shingles: the full cached relation when it
    // exists anyway, else only the candidate documents — the id filter
    // pushes into the old corpus scan behind the size gate
    val shOldVerify = shOldFull.getOrElse {
      val candOldIds = cands.filter(!col("__onew"))
        .select(col("id_other").as(idCol)).distinct()
      shingle(sizeGatedFilterJoin(oldDf, candOldIds, Seq(idCol), "left_semi"))
    }
    // verification joins pick the side the candidate actually came from,
    // so overlapping id spaces can never pair an id with the wrong text
    def verify(c: DataFrame, otherSide: DataFrame) = c
      .join(shNew.select(col(idCol).as("id_new"), col("__shingles").as("__sh_n")),
        Seq("id_new"))
      .join(otherSide.select(col(idCol).as("id_other"),
        col("__shingles").as("__sh_o")), Seq("id_other"))
    val verified = verify(cands.filter(col("__onew")), shNew)
      .unionByName(verify(cands.filter(!col("__onew")), shOldVerify))
      .withColumn("jaccard", H.jaccard(col("__sh_n"), col("__sh_o")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_new"), col("id_other"), col("__onew").as("other_is_new"),
        round(col("jaccard"), 6).as("jaccard"))
    (Seq(shNew, kNew, kAll, cands) ++ shOldFull.toSeq)
      .foreach(graft.core.CacheAutoRelease.afterFirstUse)
    verified
  }

  /** Near-duplicate pairs from ANY 64-bit sketch column: chunk-LSH
    * candidates (the 64 bits split into `chunks` pieces; two sketches
    * within Hamming distance < chunks must agree on at least one whole
    * chunk — pigeonhole — so candidate generation is EXACT for
    * maxHamming < chunks), exact Hamming verification ≤ maxHamming. The
    * shared engine under [[simHash]] (text sketches) and
    * [[imageDHashPairs]] (perceptual image hashes); any other 64-bit
    * locality-sensitive sketch plugs in the same way. Sketches are
    * computed once scan-side and persisted for the band + verification
    * consumers; null sketches (undecodable payloads) have nothing to band
    * and drop out. */
  def hamming64Pairs(df: DataFrame, sketch: Column, idCol: String,
                     chunks: Int = 4, maxHamming: Int = 3,
                     maxBucket: Int = 10000): DataFrame = {
    require(maxHamming < chunks, "chunk-LSH is exact only for hamming < chunks")
    // consumed by the chunk-LSH branch and both verification joins
    val withSk = graft.core.ScanParallelism.ensure(df)
      .select(col(idCol), sketch.as("__sim"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val keyed = withSk
      .select(col(idCol), explode(H.simHashChunks(col("__sim"), chunks)).as("__c"))
      .select(col(idCol), col("__c").cast("string").as("__key"))
    val pairs = pairsFromBuckets(keyed, idCol, maxBucket)
    val result = withPairPayloads(pairs, withSk, idCol)
      .withColumn("hamming", H.hamming(col("__sim_a"), col("__sim_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
    graft.core.CacheAutoRelease.afterFirstUse(withSk)
    result
  }

  /** SimHash near-duplicate pairs: 64-bit sketch, chunk-LSH candidates,
    * exact Hamming verification ≤ maxHamming. The sketch is the native
    * [[graft.functions.SimHashExpr]] — one compiled pass per document,
    * entirely scan-side (no token explosion, no shuffle), value-equivalent
    * to [[graft.functions.HashFunctions.simHash]], the HOF spec. */
  def simHash(df: DataFrame, textCol: String, idCol: String,
              chunks: Int = 4, maxHamming: Int = 3,
              maxBucket: Int = 10000): DataFrame =
    hamming64Pairs(df,
      graft.functions.SimHashExpr(T.tokens(lower(col(textCol)))),
      idCol, chunks, maxHamming, maxBucket)

  /** Image near-duplicate pairs: perceptual dHash
    * ([[graft.functions.ImageDHashExpr]] — real decode, box-averaged 9×8
    * grayscale, row-gradient bits) over a binary payload column, then the
    * same chunk-LSH + exact-Hamming machinery as [[simHash]]. Resized or
    * re-encoded copies of an image land within a few bits, so the default
    * radius is wider than text SimHash's and the chunk count rises with it
    * (exactness needs maxHamming < chunks). Undecodable payloads hash to
    * NULL and are excluded, mirroring the decode expressions' corrupt-blob
    * contract. Reference anchor: the ingest→dedup→re-emit round-trip of
    * `tests/test_integration.py:171-188`, extended to image columns. */
  def imageDHashPairs(df: DataFrame, payloadCol: String, idCol: String,
                      chunks: Int = 8, maxHamming: Int = 6,
                      maxBucket: Int = 10000): DataFrame =
    hamming64Pairs(df,
      graft.functions.ImageDHashExpr(col(payloadCol)),
      idCol, chunks, maxHamming, maxBucket)

  /** Exact n-gram Jaccard pairs via a shingle-inverted-index self-join:
    * explode distinct shingles, join on the shingle, count shared shingles
    * per pair (the intersection), then |union| = |A|+|B|−|A∩B| — all exact
    * integer arithmetic, so the result is engine-independent (DuckDB
    * oracle-checkable, unlike MinHash whose signatures depend on the hash
    * family). `maxDf` drops shingles appearing in more than that many docs
    * (stop-shingles) — the skew guard that keeps the self-join from going
    * quadratic on boilerplate at 100 TB; 0 disables. The small-side
    * broadcasts (stop set, per-document set sizes) are broadcast only
    * while measured at ≤ 1,000,000 rows ([[BroadcastGate.MaxRows]]) — above
    * that they degrade to shuffled joins instead of unbounded driver
    * broadcasts.
    * `strategy = "minhash"` swaps candidate generation for a banded
    * MinHash prefilter with exact per-pair verification
    * ([[minhashPrefilterPairs]]) — identical values on every emitted
    * pair, probabilistic recall, skew-capped by `maxBucket`; its 128-hash
    * banding is derived from the threshold ([[autoBands]], ≥95% per-pair
    * recall at jaccard = threshold). The default `strategy = "auto"` stays
    * on the exact single-pass join below a measured shingle-volume knee and
    * escalates to the minhash prefilter above it ([[autoStrategy]], logged
    * decision) — so recall becomes probabilistic (≥95% per pair at
    * jaccard = threshold) exactly on corpora dense enough that the exact
    * join was measured unusable; pin `"single"` when the contract is
    * exactness at any volume.
    *
    * NOTE (eager construction): building the returned DataFrame runs
    * bounded probe/populate jobs (size-gate limit counts, cache
    * populates) BEFORE any action — a caller that constructs but never
    * executes the result still pays them, and the operator-internal
    * persists stay resident until the first consuming execution releases
    * them (CacheAutoRelease) or the caller clears the cache. */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        shingleSize: Int = 3, threshold: Double = 0.1,
                        maxDf: Long = 0L,
                        strategy: String = "auto",
                        maxBucket: Int = 2000): DataFrame =
    jaccardPairsDispatch(
      graft.core.ScanParallelism.ensure(df).select(col(idCol),
        wordShingles(textCol, shingleSize).as("__shs")),
      idCol, threshold, maxDf, strategy, maxBucket)

  /** Join `big` against a derived small relation (`left_semi`/`left_anti`
    * filter joins, or `inner` when the matched rows themselves are
    * needed), broadcasting the small side only when it is MEASURED to
    * be small ([[sizeGated]]): above `maxBroadcastRows` the join falls
    * back to a shuffled exchange. An unconditional `broadcast()` here is
    * the 100 TB failure mode — on a high-duplication corpus the candidate
    * set is a large fraction of all documents and an unbounded broadcast
    * OOMs the driver; the gate keeps the fast path for the common case and
    * degrades to a shuffle instead of an OOM on the degenerate one.
    * Operators keep the fixed default; only tests pass another gate. */
  private[graft] def sizeGatedFilterJoin(
      big: DataFrame, small: DataFrame, keys: Seq[String], joinType: String,
      maxBroadcastRows: Long = BroadcastGate.MaxRows): DataFrame =
    big.join(sizeGated(small, maxBroadcastRows), keys, joinType)

  /** The eager broadcast gate: persist `small`, probe its size, and return
    * it broadcast-hinted when it holds at most `maxBroadcastRows` rows,
    * plain otherwise. The small side is only ever read through the query
    * the caller builds on the result, so its cache is dropped once the
    * first consuming query finishes (armed AFTER the probe, so the probe
    * itself cannot fire it). */
  private def sizeGated(small: DataFrame,
                        maxBroadcastRows: Long = BroadcastGate.MaxRows): DataFrame = {
    val s = small.persist(StorageLevel.MEMORY_AND_DISK)
    // Short-circuiting membership probe: LocalLimit stops each task once
    // the gate is exceeded, so an over-the-gate small side costs O(gate)
    // scanned rows here instead of a full count — the probe's price is
    // bounded by the threshold, not by |small|. Trade-off, deliberate: on
    // the UNDER-gate (common) branch the probe consumes every partition,
    // so the persist is fully populated exactly as a full count would
    // leave it; on the over-gate branch partitions the probe cut short
    // are left uncached and the shuffled join recomputes them — the
    // degenerate corpus pays one recompute where the old full count() paid
    // an O(|small|) driver-side count on EVERY call, including the common
    // case. We optimize the branch that actually dominates.
    val probeLimit = math.min(maxBroadcastRows + 1, Int.MaxValue.toLong).toInt
    val hinted =
      if (s.limit(probeLimit).count() <= maxBroadcastRows) broadcast(s) else s
    graft.core.CacheAutoRelease.afterFirstUse(s)
    hinted
  }

  /** The shingle-intersection core of the exact pair operators
    * ([[ngramJaccardPairs]], [[charJaccardPairs]], [[containmentPairs]]):
    * inverted-index self-join over a pre-shingled (idCol, `__shs`)
    * relation, returning (id_a, id_b, inter, __na, __nb) for every pair
    * with id_a < id_b sharing at least one non-stop shingle — `inter`
    * counts the shared non-stop shingles, `__na`/`__nb` are the PRE-drop
    * set sizes. Each operator applies only its own score and threshold.
    *
    * Default path (one pass): explode distinct shingles, drop `maxDf`
    * stop-shingles (size-gated broadcast anti join — see
    * [[overfullKeys]]), self-join on the shingle string, count shared
    * shingles per pair. Engine-independent and oracle-checkable. For
    * DENSE shingle sets (char-grams) the measured scale path is the
    * MinHash prefilter instead ([[minhashPrefilterPairs]],
    * `strategy = "minhash"`): 18.5 s on a 50k-document chargram workload —
    * 5.2× over the single pass with identical emitted pairs — at the price
    * of probabilistic recall; see PLANS.md for the adoption decision. */
  private def sharedShingles(shingledIn: DataFrame, idCol: String,
                             maxDf: Long): DataFrame = {
    // Persist at the ARRAY level: the shingle expression runs exactly once
    // per document; the size() projection and both join-side explodes then
    // read the cached arrays (projection collapse would otherwise re-run it
    // for each consumer).
    val shingled = shingledIn.persist(StorageLevel.MEMORY_AND_DISK)
    // The exploded relation carries (id, shingle) ONLY: per-document set
    // sizes are functionally dependent on the id, so carrying __n through
    // the explode, the stop anti join, the pair join's both sides and the
    // pair-aggregation exchange was dead weight on every exchanged row
    // (guide §2.3 — r21 measured the pair-partial exchange of
    // (id_a, id_b, na, nb, count) at ~118 MB for chargram_pairs at sf0.1,
    // ~40% of it the na/nb columns). Sizes are recovered AFTER the pair
    // aggregation from the corpus-sized (id, n) relation — see
    // [[attachSizes]] below.
    val sh = shingled.select(col(idCol), explode(col("__shs")).as("__sh"))
    // Per-document PRE-drop set size (the stop anti join must not change
    // the union arithmetic — same contract as before this refactor, where
    // __n was computed before the drop; containment on stop-heavy
    // documents underestimates, never overestimates). One row per input
    // document, derived from the cached array relation — no extra shingle
    // pass. Broadcast under the measured row gate; above it the join
    // degrades to a shuffled join of the AGGREGATED pairs (far fewer rows
    // than the pair partials the exchange used to carry) against the sizes
    // relation — the sizes side is corpus-sized at 100 TB and must never
    // unconditionally broadcast. The eager limit-probe count doubles as
    // the `shingled` cache populate: it runs at construction time, before
    // the action's join sides could race the cold cache (the r21 lesson).
    lazy val sizesHinted: DataFrame = sizeGated(shingled
      .select(col(idCol), size(col("__shs")).cast("long").as("__n")))
    // Sizes join back onto the aggregated (id_a, id_b, inter) pairs —
    // AFTER the pair aggregation, so the caller's threshold filter still
    // sees them — instead of riding through every exchanged row.
    // (r21 correction, still true: the two sides' exchanges are NOT
    // shared by ReusedExchange in practice — hence the persisted,
    // eagerly-populated input below, and the grouped single-exchange form
    // for bounded maxDf.)
    def attachSizes(pairs: DataFrame): DataFrame = pairs
      .join(sizesHinted.select(col(idCol).as("id_a"), col("__n").as("__na")),
        Seq("id_a"))
      .join(sizesHinted.select(col(idCol).as("id_b"), col("__n").as("__nb")),
        Seq("id_b"))
    def dropStopShingles(rel: DataFrame): DataFrame =
      if (maxDf <= 0) rel
      else rel.join(overfullKeys(sh, "__sh", maxDf), Seq("__sh"), "left_anti")
    def exactPairs(rel: DataFrame): DataFrame = {
      val a = rel.select(col(idCol).as("id_a"), col("__sh"))
      val b = rel.select(col(idCol).as("id_b"), col("__sh"))
      attachSizes(a.join(b, Seq("__sh"))
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("inter")))
    }
    // Bounded-bucket form of the inverted-index join: under a maxDf cap
    // every shingle's posting list is ≤ maxDf entries, so the ordered
    // pairs can be emitted positionally from ONE exchange of the exploded
    // rows (group → sorted bounded array → i<j explode) instead of
    // exchanging the same relation twice and sort-merging it (guide
    // §2.4: remove shuffles outright). sort_array orders the ids with
    // the same comparator as the join's `<` filter, so the emitted pair
    // multiset — and hence every (inter, __na, __nb) — is identical.
    // Only taken when the cap makes
    // the per-key array provably small; the unbounded (maxDf = 0) path
    // keeps the streaming sort-merge join, which no single degenerate
    // key can OOM.
    def groupedExactPairs(rel: DataFrame): DataFrame = attachSizes(rel
      // defensive: the join form drops null keys structurally; groupBy
      // would keep a null-key bucket (and the maxDf stop anti join never
      // removes null keys, so it would be unbounded). The shingle
      // expressions emit non-null elements today — this pins the
      // equivalence rather than relying on that.
      .filter(col("__sh").isNotNull)
      // numbered repartition: pin the exchange width against AQE's
      // bytes-based coalescing — the pair explosion above this exchange
      // multiplies rows, so sizing the partitions by their input bytes
      // serializes the expensive part (see pairsFromBuckets)
      .repartition(rel.sparkSession.sessionState.conf.numShufflePartitions,
        col("__sh"))
      .groupBy("__sh")
      // bare ids, not (id, n) structs: same sort_array order for the
      // unique ids the pair contract assumes (the struct sort compared n
      // only after equal ids), smaller collect buffers, and the emitted
      // pair rows carry 2 longs instead of 2 structs
      .agg(sort_array(collect_list(col(idCol))).as("__b"))
      .select(col("__b"), posexplode(col("__b")).as(Seq("__i", "__x")))
      .select(col("__x"),
        explode(slice(col("__b"), col("__i") + lit(2),
          greatest(size(col("__b")) - col("__i") - lit(1), lit(0))))
          .as("__y"))
      .filter(col("__x") < col("__y"))
      .groupBy(col("__x").as("id_a"), col("__y").as("id_b"))
      .agg(count(lit(1)).as("inter")))
    val boundedBuckets = maxDf > 0 && maxDf <= 10000
    val result = if (boundedBuckets) {
      // the grouped form reads the exploded relation exactly once; the
      // only other `shingled` consumer is the tiny sizes projection, and
      // the stop-set probe populates the cache before either runs
      groupedExactPairs(dropStopShingles(sh))
    } else {
      // both pair-join sides read the post-stop exploded relation; persist
      // it so the explode + stop anti join run ONCE. The intended
      // ReusedExchange never fires in practice — the stop set rides in as
      // a broadcast, and the two sides plan independent broadcast-build
      // subtrees (measured: two identical 14 MB map jobs per
      // chargram_pairs action at sf0.1). MEMORY_AND_DISK: corpus-shingle
      // sized, spills instead of evicting — still cheaper than a second
      // full explode+anti pass (guide §2.4: share the exchange input).
      val base = dropStopShingles(sh).persist(StorageLevel.MEMORY_AND_DISK)
      // populate the cache NOW: the self-join's two sides are independent
      // AQE shuffle stages materialized concurrently — against a cold
      // cache both race to compute it and the explode+anti runs twice
      // anyway (measured: the persist alone did not remove the duplicate
      // 14 MB map jobs). One counting pass pays the explode once.
      base.count()
      val out = exactPairs(base)
      graft.core.CacheAutoRelease.afterFirstUse(base)
      out
    }
    graft.core.CacheAutoRelease.afterFirstUse(shingled)
    result
  }

  /** MinHash-prefilter → exact-verify hybrid tail: candidate pairs come
    * from banded MinHash signatures over the shingle ARRAYS (the
    * signature is one compiled scan-side pass per document; only the
    * (id, bandKey) rows are exchanged), and each candidate pair is then
    * verified with exact integer intersection arithmetic on the arrays —
    * so every EMITTED row carries the same (inter, uni, jaccard) values
    * the exact inverted-index path computes, but recall is probabilistic:
    * a true pair whose signature never collides in any band is missed
    * (P[candidate] = 1−(1−j^r)^b at exact Jaccard j, r = hashes/bands).
    * The banding is derived from the threshold ([[autoBands]]: the most
    * selective r that still keeps ≥95% per-pair recall at j = threshold —
    * e.g. 128 hashes → r = 2/b = 64 at t = 0.3, r = 1/b = 128 at t = 0.1).
    *
    * What this buys at scale: the exact paths aggregate one row per
    * SHARED SHINGLE per pair (boilerplate-heavy corpora make that
    * quadratic-ish even under `maxDf`); this path exchanges one row per
    * (doc, band) — corpus-linear — and pays exact arithmetic only on
    * candidates. `maxDf` keeps result parity with the exact paths: stop
    * shingles are dropped BEFORE both the signature and the verification
    * arithmetic, which costs this path one regroup exchange
    * (explode → anti join → collect_set) the exact paths fold into their
    * inverted-index join. */
  private def minhashPrefilterPairs(shingledIn: DataFrame, idCol: String,
                                    threshold: Double, maxDf: Long,
                                    maxBucket: Int): DataFrame = {
    // `__n0` carries the PRE-drop set size: the exact paths size the union
    // from the full shingle sets while intersecting only non-stop shingles
    // (their `__n` is computed before the stop anti join) — value parity on
    // emitted pairs requires reproducing exactly that arithmetic here.
    val base =
      if (maxDf <= 0)
        shingledIn.withColumn("__n0", size(col("__shs")).cast("long"))
      else {
        val sh = shingledIn.select(col(idCol),
          size(col("__shs")).cast("long").as("__n0"), explode(col("__shs")).as("__sh"))
        sh.join(overfullKeys(sh, "__sh", maxDf), Seq("__sh"), "left_anti")
          .groupBy(col(idCol))
          .agg(min(col("__n0")).as("__n0"), collect_set(col("__sh")).as("__shs"))
      }
    // consumed by the signature branch and both verification joins
    val shingled = base.persist(StorageLevel.MEMORY_AND_DISK)
    val pairs = pairsFromBuckets(bandKeys(shingled, idCol, col("__shs"),
      PrefilterHashes, autoBands(PrefilterHashes, threshold)), idCol, maxBucket)
    val result = withPairPayloads(pairs, shingled, idCol)
      .withColumn("inter",
        size(array_intersect(col("__shs_a"), col("__shs_b"))).cast("long"))
      .withColumn("uni", col("__n0_a") + col("__n0_b") - col("inter"))
      .withColumn("jaccard", col("inter").cast("double") / col("uni"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"),
        round(col("jaccard"), 6).as("jaccard"))
    graft.core.CacheAutoRelease.afterFirstUse(shingled)
    result
  }

  /** Exploded-shingle-volume knee above which `strategy = "auto"`
    * escalates from the exact single-pass inverted-index join to the
    * [[minhashPrefilterPairs]] hybrid. Measured (SCALEPROBE.json
    * `pair_join_scale`, char 5-grams): at ~40M exploded shingle rows
    * (50k docs) the single-pass join took 257.5s vs 19.3s for the
    * minhash prefilter (13×, identical emitted pairs on that corpus); at
    * ~4M rows (5k docs, the sf0.1 `chargram_pairs` shape) single-pass
    * still wins (4.9s). The knee sits between those measurements, on the
    * side that keeps every measured-exact-is-fine corpus on the exact
    * path. */
  private[graft] val AutoEscalateShingleRows: Long = 10000000L

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.operators.Dedup")

  /** The `strategy = "auto"` decision, factored out so the gate itself is
    * testable: the exploded shingle volume is ESTIMATED as docs × mean shingles/doc
    * and compared against the measured knee. The mean is taken over a
    * deterministic md5-coin sample of ~`sampleRows` ids — a corpus-wide
    * spread, unlike a `limit` prefix, whose leading partition often
    * shares a source/length profile (corpora arrive sorted) and would
    * bias the estimate enough to flip the path; the coin filter
    * references only `idCol`, so Catalyst pushes it below the shingle
    * projection and shingles are computed ONLY for sampled rows — still
    * no full shingling pass (the doc count prunes the shingle column
    * entirely). The decision is logged with its inputs so a production
    * run records WHY it took the path it took. */
  private[graft] def autoStrategy(shingled: DataFrame, idCol: String,
                                  knee: Long = AutoEscalateShingleRows,
                                  sampleRows: Int = 1000): String = {
    val nDocs = shingled.count()
    if (nDocs == 0L) return "single"
    val rate = math.min(1.0, sampleRows.toDouble / nDocs)
    val meanShingles = shingled
      .filter(substring(md5(col(idCol).cast("string")), 1, 8) <
        lit(graft.functions.TextFunctions.coinThreshold(rate)))
      .agg(coalesce(avg(size(col("__shs"))), lit(0.0)))
      .head.getDouble(0)
    val estimate = (nDocs * meanShingles).toLong
    val chosen = if (estimate > knee) "minhash" else "single"
    log.info(s"jaccard strategy=auto: $nDocs docs x $meanShingles mean " +
      s"shingles/doc = ~$estimate exploded rows vs knee $knee -> $chosen")
    chosen
  }

  /** Routes a `strategy` name onto the pair operators' candidate-generation
    * paths: `"single"` forces the one-pass string-keyed inverted-index
    * join, `"minhash"` takes the [[minhashPrefilterPairs]] hybrid (exact values,
    * probabilistic recall — the only strategy whose OUTPUT may differ),
    * and `"auto"` is a stats-gated escalation ([[autoStrategy]]): the
    * exact single-pass default below the measured volume knee
    * ([[AutoEscalateShingleRows]]), the minhash prefilter above it —
    * which means `"auto"` inherits minhash's probabilistic recall
    * (≥95% per emitted-able pair at jaccard = threshold under
    * [[autoBands]]) precisely when the corpus is dense enough that the
    * exact join was measured quadratic-unusable; callers whose contract
    * is exactness at ANY volume must pin `"single"`. */
  private def jaccardPairsDispatch(shingled: DataFrame, idCol: String,
                                   threshold: Double, maxDf: Long,
                                   strategy: String,
                                   maxBucket: Int): DataFrame = {
    val resolved = strategy match {
      case "auto" => autoStrategy(shingled, idCol)
      case s      => s
    }
    resolved match {
      case "single" =>
        // exact Jaccard: inter / (|A| + |B| − inter)
        sharedShingles(shingled, idCol, maxDf)
          .withColumn("uni", col("__na") + col("__nb") - col("inter"))
          .withColumn("jaccard", col("inter").cast("double") / col("uni"))
          .filter(col("jaccard") >= threshold)
          .select(col("id_a"), col("id_b"), col("inter"), col("uni"),
            round(col("jaccard"), 6).as("jaccard"))
      case "minhash" =>
        minhashPrefilterPairs(shingled, idCol, threshold, maxDf, maxBucket)
      case other => throw new IllegalArgumentException(
        s"unknown jaccard pair strategy '$other' " +
          "(expected auto|single|minhash)")
    }
  }

  /** Character-n-gram variant of [[ngramJaccardPairs]]: shingles are
    * n-character windows of the normalized text instead of word n-grams —
    * the form that works on scripts without whitespace word boundaries
    * (CJK) and on heavily-concatenated text, at the cost of denser shingle
    * sets. Same inverted-index self-join, same exact integer arithmetic
    * (engine-independent, oracle-checkable), same `maxDf` stop-shingle
    * skew guard, same fixed broadcast gate.
    *
    * NOTE (eager construction): building the returned DataFrame runs
    * bounded probe/populate jobs (size-gate limit counts, cache
    * populates) BEFORE any action — a caller that constructs but never
    * executes the result still pays them, and the operator-internal
    * persists stay resident until the first consuming execution releases
    * them (CacheAutoRelease) or the caller clears the cache. */
  def charJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                       shingleSize: Int = 5, threshold: Double = 0.1,
                       maxDf: Long = 0L,
                       strategy: String = "auto",
                       maxBucket: Int = 2000): DataFrame =
    jaccardPairsDispatch(
      graft.core.ScanParallelism.ensure(df).select(col(idCol),
        H.charShingles(trim(lower(col(textCol))), shingleSize).as("__shs")),
      idCol, threshold, maxDf, strategy, maxBucket)

  /** Asymmetric shingle-CONTAINMENT pairs: for each document pair,
    * C(A→B) = |A∩B| / |A| over distinct word `shingleSize`-grams — the
    * near-SUBSET detector symmetric Jaccard under-scores. A 50-token
    * quote wrapped in a 5000-token page has Jaccard ≈ 0.01 (invisible to
    * [[ngramJaccardPairs]] at any useful threshold) but containment 1.0
    * on the quote side; re-posts with added boilerplate, syndicated
    * articles with navigation chrome, and quoted-reply chains all have
    * this shape. Emitted when EITHER direction clears `threshold`; both
    * directions' values are returned so the caller can tell subset
    * (one-sided) from near-equality (both-sided, ≈ Jaccard).
    *
    * Same single-pass inverted-index join as the exact Jaccard path
    * ([[sharedShingles]]): one scan-side shingle pass, self-join on the
    * shingle string, one count per shared shingle per pair. Exact integer
    * arithmetic — engine-independent and oracle-checkable. `maxDf` drops
    * stop-shingles from the index while each document's DENOMINATOR still
    * counts them (consistent with the Jaccard path), so containment on
    * stop-heavy documents is an underestimate, never an overestimate.
    * Scale: cost is Σ_shingle df² like every inverted-index pair join —
    * `maxDf` is the knob that bounds it; for dense corpora route
    * candidates through [[minHashLsh]] first and verify containment on
    * the candidate pairs.
    *
    * NOTE (eager construction): building the returned DataFrame runs
    * bounded probe/populate jobs (size-gate limit counts, cache
    * populates) BEFORE any action — a caller that constructs but never
    * executes the result still pays them, and the operator-internal
    * persists stay resident until the first consuming execution releases
    * them (CacheAutoRelease) or the caller clears the cache. */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       shingleSize: Int = 3, threshold: Double = 0.8,
                       maxDf: Long = 0L): DataFrame =
    sharedShingles(graft.core.ScanParallelism.ensure(df).select(col(idCol),
        wordShingles(textCol, shingleSize).as("__shs")), idCol, maxDf)
      .withColumn("cont_a",
        round(col("inter").cast("double") / col("__na").cast("double"), 6))
      .withColumn("cont_b",
        round(col("inter").cast("double") / col("__nb").cast("double"), 6))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select(col("id_a"), col("id_b"), col("inter"),
        col("__na").as("n_a"), col("__nb").as("n_b"),
        col("cont_a"), col("cont_b"))

  /** LINE-level boilerplate removal — the CCNet/RefinedWeb paragraph-hash
    * step of web-corpus curation: split each document on newlines, count
    * per TRIMMED line the number of distinct documents containing it, and
    * delete every line present in more than `maxDocFreq` documents
    * (navigation chrome, cookie banners, footers — text that repeats
    * across a site carries no per-document signal and inflates n-gram
    * stats), reassembling the survivors in original order. Returns
    * (idCol, textCol cleaned, `n_lines`, `n_dropped`) with one row per
    * input document — a fully-boilerplate document keeps its row with
    * empty text, so the caller decides its fate.
    *
    * Scale shape: the line explode is scan-side; the document-frequency
    * aggregation is map-side combined on the line key (distinct-per-doc
    * first, so in-document repetition counts once); the boilerplate
    * relation is by construction ≤ corpus-lines / maxDocFreq rows and
    * joins back under the fixed 1 M-row broadcast gate
    * ([[sizeGatedFilterJoin]], anti-join — degrading to a shuffle on a
    * template-heavy corpus rather than an unbounded driver broadcast);
    * reassembly is one exchange on the document id with a per-document
    * sort of that document's own lines. The exploded relation is derived
    * twice (frequency pass, filter pass) rather than cached — at corpus
    * scale re-splitting beats persisting a corpus-sized intermediate, the
    * same call [[CorpusStats.charLmScore]] documents. Exact integer/string
    * arithmetic — engine-independent and oracle-checkable (`line_dedup`). */
  def dropBoilerplateLines(df: DataFrame, textCol: String, idCol: String,
                           maxDocFreq: Long,
                           model: Option[DataFrame] = None): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    // line splitting is cheap scan-side work; the gated repartition
    // measured slower here (line_dedup 1.5x) — reassembly exchange dominates
    val dfp = df
    def lines = dfp.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
      .withColumn("__l", trim(col("__line")))
    val boiler = model
      .map(_.select(col("line").as("__l")))
      .getOrElse(boilerplateLines(dfp, textCol, idCol, maxDocFreq)
        .select(col("line").as("__l")))
    val kept = sizeGatedFilterJoin(lines, boiler, Seq("__l"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(
        concat_ws("\n", transform(
          array_sort(collect_list(struct(col("__pos"), col("__line")))),
          s => s.getField("__line"))).as("__clean"),
        count(lit(1)).as("__kept"))
    // NULL text propagates as NULL in all three outputs (the SQL
    // convention, and what the scan path's nullSafeEval does) — without
    // the guard the coalesce would rewrite a NULL document to '', making
    // the two paths diverge on exactly the rows where "no document" and
    // "fully-boilerplate document" must stay distinguishable
    dfp.select(col(idCol), col(textCol).isNull.as("__textnull"),
        size(split(col(textCol), "\n")).cast("long").as("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__textnull"), lit(null))
          .otherwise(coalesce(col("__clean"), lit(""))).as(textCol),
        col("n_lines"),
        (col("n_lines") - coalesce(col("__kept"), lit(0L))).as("n_dropped"))
  }

  /** The ZERO-SHUFFLE apply path of [[dropBoilerplateLines]] for a frozen,
    * driver-resident model (a curated or [[boilerplateLines]]-trained line
    * list, typically thousands of lines): the whole clean is one native
    * scan-side expression ([[graft.functions.BoilerplateFilterExpr]] —
    * hash-set lookups in a single compiled pass per document), so the plan
    * has no explode, no join, no reassembly exchange, and the SAME call
    * works unchanged on a STREAMING DataFrame (stateless projection).
    * Output shape matches [[dropBoilerplateLines]] exactly; `DedupSpec`
    * pins row-for-row parity between the two paths. Prefer the join-based
    * form when the boilerplate set is data-dependent per run or too large
    * to embed in the plan. */
  def dropBoilerplateLinesScan(df: DataFrame, textCol: String, idCol: String,
                               model: Seq[String]): DataFrame = {
    val out = graft.functions.BoilerplateFilterExpr(col(textCol), model)
    df.select(col(idCol), out.as("__o"))
      .select(col(idCol), col("__o.text").as(textCol),
        col("__o.n_lines").as("n_lines"), col("__o.n_dropped").as("n_dropped"))
  }

  /** The trained half of [[dropBoilerplateLines]]: the corpus's boilerplate
    * line set (`line`, `df` — trimmed lines present in more than
    * `maxDocFreq` distinct documents). Persist it once and pass it back as
    * `model=` to clean LATER ingest batches against the frozen corpus
    * boilerplate without re-counting — the train-offline / apply-on-ingest
    * split of [[CorpusStats.charLmModel]]/`charLmApply`; re-train on the
    * grown corpus at the caller's cadence. */
  def boilerplateLines(df: DataFrame, textCol: String, idCol: String,
                       maxDocFreq: Long): DataFrame = {
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    df.select(col(idCol),
        explode(split(col(textCol), "\n")).as("__line"))
      .select(col(idCol), trim(col("__line")).as("line"))
      .distinct()
      .groupBy("line").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDocFreq)
  }

  /** Decontamination: remove corpus documents sharing at least `minOverlap`
    * distinct word `shingleSize`-grams with ANY document of `evalSet` —
    * the benchmark-hygiene step of a training pipeline (eval data must not
    * leak into the training mix, nor near-copies of it).
    *
    * This is also the VERBATIM-SPAN decontamination primitive: a document
    * shares a ≥ L-token consecutive run with the eval set if and only if
    * it shares at least one L-token gram, so "drop anything containing a
    * 50-token verbatim eval span" is exactly
    * `decontaminate(shingleSize = 50, minOverlap = 1)` — no separate span
    * operator needed on this path (use [[sharedSpans]] when the span
    * LENGTHS themselves are the output). The eval side is
    * tiny relative to the corpus (benchmark suites vs a 100 TB corpus):
    * its distinct shingles broadcast under the size gate (fixed at
    * 10,000,000 rows, [[DecontaminateGateRows]]), so the corpus is
    * shingled in one scan-side pass and only the (rare) matching rows
    * reach the per-document overlap count; the contaminated-id set is
    * removed with a second size-gated anti join. Exact integer arithmetic
    * throughout — engine-independent and oracle-checkable. */
  def decontaminate(corpus: DataFrame, evalSet: DataFrame, textCol: String,
                    idCol: String, shingleSize: Int = 8,
                    minOverlap: Long = 1L): DataFrame = {
    val corpusP = graft.core.ScanParallelism.ensure(corpus)
    val cSh = corpusP.select(col(idCol),
      explode(wordShingles(textCol, shingleSize)).as("__sh"))
    val eSh = evalSet.select(explode(wordShingles(textCol, shingleSize)).as("__sh"))
      .distinct()
    // shingle sets are distinct per doc (WordShingleExpr) and the eval set
    // is distinct, so count(*) == number of distinct shared shingles
    val doomed = sizeGatedFilterJoin(cSh, eSh, Seq("__sh"), "inner",
        DecontaminateGateRows)
      .groupBy(col(idCol)).agg(count(lit(1)).as("__overlap"))
      .filter(col("__overlap") >= minOverlap)
      .select(col(idCol))
    sizeGatedFilterJoin(corpusP, doomed, Seq(idCol), "left_anti",
      DecontaminateGateRows)
  }

  /** Bloom-gated decontamination: result-identical to [[decontaminate]],
    * built for the regime where the eval shingle set is too large to
    * broadcast as a set but the corpus is vastly larger still. The eval
    * shingles are folded ENGINE-SIDE into one Bloom filter (Spark's own
    * `BloomFilterAggregate`, the runtime-row-filter machinery — one
    * aggregation job, xxhash64 keys); the corpus's exploded shingles are
    * then prefiltered scan-side by `BloomFilterMightContain` against the
    * serialized filter (a codegen'd literal — `fpp`·|corpus shingles|
    * expected survivors), and only those rare survivors reach the exact
    * membership join, overlap count and anti join of the exact path.
    * False positives are removed by the exact verify; Bloom filters have
    * no false negatives — so the output is row-identical to
    * [[decontaminate]] and shares its oracle.
    *
    * Driver/plan footprint is the SERIALIZED FILTER SIZE — set by
    * (`expectedItems`, `fpp`), not by the data (~1.2 MiB per million
    * items at 1% fpp); undersizing `expectedItems` degrades fpp (more
    * exact-verify work), never correctness. The corpus relation itself is
    * never exchanged in full: the only full-corpus work is the scan-side
    * shingle explode + Bloom probe.
    *
    * Spark's `BloomFilterAggregate` silently clamps its sizing to the
    * runtime-row-filter confs (`spark.sql.optimizer.runtime.bloomFilter
    * .maxNumItems`/`.maxNumBits`, defaults 4M items / 64M bits) — below
    * this operator's defaults, which would quietly degrade the effective
    * fpp above ~4M eval shingles. The build therefore RAISES both confs
    * to cover (`expectedItems`, the derived bit count) — on a PRIVATE
    * cloned session (same context/cache, isolated SQLConf), so the
    * caller's session never observes the raised caps: concurrent queries
    * keep planning their runtime row-filters under the configured caps
    * and concurrent builds cannot clamp each other. */
  def decontaminateBloom(corpus: DataFrame, evalSet: DataFrame,
                         textCol: String, idCol: String,
                         shingleSize: Int = 8, minOverlap: Long = 1L,
                         expectedItems: Long = 10000000L,
                         fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.Bridge
    require(expectedItems > 0, "expectedItems must be positive")
    require(fpp > 0.0 && fpp < 1.0, "fpp must be in (0,1)")
    val eSh = evalSet.select(explode(wordShingles(textCol, shingleSize)).as("__sh"))
      .distinct()
    val bloomBytes = buildShingleBloom(eSh, expectedItems, fpp)
    if (bloomBytes == null) return corpus // empty eval set: nothing to remove
    val corpusP = graft.core.ScanParallelism.ensure(corpus)
    val cSh = corpusP.select(col(idCol),
      explode(wordShingles(textCol, shingleSize)).as("__sh"))
    val mightContain = Bridge.column(new BloomFilterMightContain(
      Literal(bloomBytes, org.apache.spark.sql.types.BinaryType),
      Bridge.expression(xxhash64(col("__sh")))))
    val doomed = sizeGatedFilterJoin(cSh.filter(mightContain), eSh,
        Seq("__sh"), "inner", DecontaminateGateRows)
      .groupBy(col(idCol)).agg(count(lit(1)).as("__overlap"))
      .filter(col("__overlap") >= minOverlap)
      .select(col(idCol))
    sizeGatedFilterJoin(corpusP, doomed, Seq(idCol), "left_anti",
      DecontaminateGateRows)
  }

  /** Verbatim shared-span detection: for every document pair sharing at
    * least one `shingleSize`-token run, the length (in tokens) of their
    * LONGEST common consecutive token run, kept when ≥ `minSpanTokens` —
    * the exact-substring contamination/forensics primitive (quote
    * detection, boilerplate provenance, eval-set verbatim leaks) that
    * set-overlap operators like [[ngramJaccardPairs]] cannot express: a
    * 200-token verbatim quote inside two otherwise-unrelated documents is
    * invisible to Jaccard but decisive here.
    *
    * Algorithm (all relational, no suffix arrays): positional
    * `shingleSize`-gram explode (positions KEPT, duplicates kept — unlike
    * the deduplicating shingle expressions) → inverted-index self-join on
    * the gram → a shared gram at positions (i, j) lies on diagonal
    * d = i − j; consecutive positions on one diagonal are one shared run,
    * so within each (pair, diagonal) group the classic gaps-and-islands
    * key (pos − row_number over pos) splits runs, and a run of R grams is
    * a span of R + shingleSize − 1 tokens. One exchange for the gram
    * join, one for the per-pair aggregation; `maxDf` drops grams occurring
    * in more than that many documents (the boilerplate/skew guard — same
    * contract as [[ngramJaccardPairs]], without which a stop-phrase makes
    * the self-join quadratic). Exact integer arithmetic throughout —
    * engine-independent and oracle-checkable. Output: (id_a, id_b,
    * span_tokens = the pair's LONGEST shared run, n_spans = how many
    * distinct maximal runs clear `minSpanTokens`), with id_a < id_b.
    *
    * NOTE (eager construction): building the returned DataFrame runs
    * bounded probe/populate jobs (size-gate limit counts, cache
    * populates) BEFORE any action — a caller that constructs but never
    * executes the result still pays them, and the operator-internal
    * persists stay resident until the first consuming execution releases
    * them (CacheAutoRelease) or the caller clears the cache. */
  def sharedSpans(df: DataFrame, textCol: String, idCol: String,
                  shingleSize: Int = 8, minSpanTokens: Int = 16,
                  maxDf: Long = 1000L): DataFrame = {
    require(shingleSize >= 1, "shingleSize must be >= 1")
    require(minSpanTokens >= shingleSize,
      "a span cannot be shorter than one shingle")
    // positional grams: (id, pos, gram), duplicates preserved — a document
    // repeating a phrase contributes every occurrence's position
    val toks = graft.core.ScanParallelism.ensure(df)
      .select(col(idCol), T.tokens(lower(col(textCol))).as("__t"))
      .select(col(idCol), col("__t"),
        (size(col("__t")) - shingleSize).as("__last"))
      .filter(col("__last") >= 0)
    val grams = toks.select(col(idCol),
        posexplode(transform(sequence(lit(0), col("__last")),
          i => concat_ws(" ", slice(col("__t"), i + 1, lit(shingleSize)))))
          .as(Seq("__pos", "__g")))
    // document-frequency stop-gram guard (count each doc once per gram)
    val sized = if (maxDf <= 0) grams else grams.join(overfullKeys(
      grams.select(col(idCol), col("__g")).distinct(), "__g", maxDf),
      Seq("__g"), "left_anti")
    // both join sides read the positional-gram relation — persist so the
    // explode (+ stop anti join) runs once, not once per side
    val sizedP = sized.persist(StorageLevel.MEMORY_AND_DISK)
    // eager populate — the join sides race a cold cache otherwise (see
    // sharedShingles)
    sizedP.count()
    val a = sizedP.select(col(idCol).as("id_a"), col("__pos").as("__pa"), col("__g"))
    val b = sizedP.select(col(idCol).as("id_b"), col("__pos").as("__pb"), col("__g"))
    graft.core.CacheAutoRelease.afterFirstUse(sizedP)
    val hits = a.join(b, Seq("__g"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("__pa"), col("__pb"),
        (col("__pa") - col("__pb")).as("__diag"))
    // gaps-and-islands on each (pair, diagonal): consecutive __pa values
    // form one shared run
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a", "id_b", "__diag").orderBy("__pa")
    val runs = hits
      .withColumn("__run", col("__pa") - row_number().over(w))
      .groupBy("id_a", "id_b", "__diag", "__run")
      .agg(count(lit(1)).as("__len"))
      .withColumn("span_tokens", col("__len") + (shingleSize - 1))
      .filter(col("span_tokens") >= minSpanTokens)
    runs.groupBy("id_a", "id_b")
      .agg(max("span_tokens").as("span_tokens"),
        count(lit(1)).as("n_spans"))
  }

  /** Engine-side Bloom build over a distinct `__sh` shingle relation:
    * one `BloomFilterAggregate` job returning the serialized filter bytes
    * (null for an empty relation). Factored out of [[decontaminateBloom]]
    * so the EFFECTIVE sizing is testable — the returned byte length is
    * ~numBits/8, which proves the conf raise actually defeated the
    * 64M-bit clamp (a silently clamped filter is output-identical, only
    * its fpp degrades). The conf raise runs on a private cloned session —
    * see [[decontaminateBloom]]. */
  private[graft] def buildShingleBloom(eSh: DataFrame, expectedItems: Long,
                                       fpp: Double): Array[Byte] = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val bloomCol = Bridge.column(new BloomFilterAggregate(
        Bridge.expression(xxhash64(col("__sh"))),
        Literal(expectedItems), Literal(numBits))
      .toAggregateExpression(isDistinct = false))
    // one engine-side aggregation; the driver holds only the serialized
    // filter (numBits/8 bytes — a parameter, not a data size). The
    // aggregate clamps (items, bits) to the runtime bloomFilter confs at
    // evaluation time — raise them to the requested sizing so
    // expectedItems > 4M keeps its fpp instead of being silently capped.
    // The raise happens on a PRIVATE cloned session (same context, cache
    // and conf values; isolated SQLConf), so the shared session never
    // observes the raised caps: a concurrent query cannot plan its
    // runtime row-filters under them, and concurrent builds cannot
    // interleave set/restore — each clamps only its own clone.
    val session = Bridge.cloneSession(eSh.sparkSession)
    val conf = session.conf
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    conf.set(itemsKey, math.max(conf.get(itemsKey).toLong, expectedItems))
    conf.set(bitsKey, math.max(conf.get(bitsKey).toLong, numBits))
    Bridge.rebind(eSh, session)
      .agg(bloomCol.as("__bf")).head().getAs[Array[Byte]](0)
  }

  /** Connected components over a near-duplicate pair list: every id that
    * appears in `pairs` is labeled with the minimum id reachable through
    * the pair graph (the canonical representative of its duplicate
    * cluster). Pair operators emit edges; an actual dedup needs the
    * transitive closure — A~B and B~C must collapse A, B, C together even
    * when A~C was never emitted.
    *
    * Algorithm: min-label propagation — each iteration joins labels across
    * the symmetrized edge list and keeps the elementwise minimum, so labels
    * converge in O(component diameter) iterations. Near-duplicate clusters
    * are dense and shallow (diameter is typically ≤ 3), so a handful of
    * iterations suffices; `maxIter` bounds pathological chains, and each
    * iteration is localCheckpoint-ed so the loop does not stack lineage.
    *
    * `pointerDoubling = true` adds a path-halving shortcut after each
    * propagation hop: every label is re-pointed at its label's label
    * (`label ← label(label)`, one self-join on the label relation — sound
    * because labels only ever decrease and every label is itself a node
    * id). Distance-to-representative then shrinks geometrically, so deep
    * chains converge in O(log diameter) hops instead of O(diameter), at
    * the price of a second join per hop. MEASURED (graft.ScaleProbe
    * `clusters_chain`, 3000 × 64-node chains): the shallow-cluster default
    * corpus shape is FASTER without doubling (the extra join buys
    * nothing at diameter ≤ 3), hence not the round-1 default; on the deep
    * chains it wins by the round-count ratio.
    *
    * The flag is ADAPTIVE rather than all-or-nothing: with
    * `pointerDoubling = false` the loop starts as pure propagation and
    * escalates to path-halving on its own when the convergence check
    * (every `checkEvery` hops) sees labels still moving after `adaptAfter`
    * hops — shallow corpora (diameter ≤ adaptAfter) never pay the extra
    * join, and a forgotten flag on a deep-chain corpus costs O(log
    * diameter) extra hops instead of silently hitting `maxIter` with
    * unconverged labels. `pointerDoubling = true` forces halving from the
    * first hop (the right call when the input is KNOWN chain-shaped).
    *
    * Returns ("id", "cluster") in the pair columns' own type — any
    * orderable id type works (the label is the component MINIMUM under the
    * type's ordering; strings cluster fine). Deterministic,
    * engine-independent (oracle-checked against a recursive-CTE closure in
    * DuckDB).
    *
    * Driver gate: when `pairs` holds at most `maxDriverEdges` rows (RAW
    * edge rows, as given: reversed and repeated edges count, and nothing
    * is symmetrized or made distinct first) and the id type is long, int
    * or string, one bounded collect of the edge projection fetches them
    * and the closure runs as a union-find on the driver, returned as a
    * local relation. Over a local `pairs` (a driver-served
    * [[minHashLsh]]) that collect runs no job. The default, 500,000 raw
    * rows, is the bound this gate held when it counted symmetrized distinct
    * edges (1,000,000 of them) for a distinct `id_a < id_b` pair list such
    * as [[minHashLsh]]'s. `maxDriverEdges = 0` always runs the distributed
    * loop. */
  def clusters(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
               maxIter: Int = 20, pointerDoubling: Boolean = false,
               adaptAfter: Int = 6,
               maxDriverEdges: Long = 500000L): DataFrame = {
    val edges = pairs.select(col(idA).as("src"), col(idB).as("dst"))
    val sym = edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    // SIZE-GATED DRIVER FAST PATH (optimization guide §1.2: fix the
    // distributed algorithm first). The propagation loop below costs
    // O(hops) Spark jobs — each hop is a join + aggregation + (lazy)
    // checkpoint, so even a 25-edge pair graph pays ~20 scheduled jobs of
    // pure planning/codegen/scheduling overhead (measured ~1s per
    // clustering query at sf0.1, ~40% of `dedup_clusters`). Near-duplicate
    // pair lists are duplication-bounded, not corpus-bounded: a healthy
    // corpus's edge list is tiny relative to the corpus, so below
    // `maxDriverEdges` RAW edge rows (as `pairs` holds them) the transitive
    // closure runs as an in-memory union-find on the driver (same
    // bounded-collect discipline as the size-gated broadcast joins and
    // `fitCentroids`) and returns a LocalRelation — identical labels by
    // construction (the component minimum is order-independent, and
    // union-find needs neither the reversed edges nor distinct ones), and
    // the downstream anti/semi joins against it become broadcasts for
    // free. The collect reads the raw projection, not `sym`: no shuffle
    // for the union's distinct, and over a local pair relation (a
    // driver-served [[minHashLsh]]) no job at all. Above the gate — the
    // genuinely massive-duplication regime — the distributed loop runs
    // exactly as before. `maxDriverEdges = 0` force-disables the fast
    // path (the loop's own specs pin it).
    // One bounded collect both measures and fetches the edges: at most
    // maxDriverEdges + 1 rows reach the driver, and one more than the gate
    // means "above it". Trade-off: above the gate the edge relation is
    // computed again for the loop (its persist starts there); that is the
    // massive-duplication regime, where the loop's own hops dominate.
    val idType = edges.schema.head.dataType
    val driverEdges =
      if (maxDriverEdges > 0 && driverMinOrdering(idType).isDefined)
        Some(edges.limit(math.min(maxDriverEdges + 1, Int.MaxValue.toLong).toInt)
          .collect()).filter(_.length <= maxDriverEdges)
      else None
    if (driverEdges.isDefined) {
      val labeled = driverClusters(driverEdges.get, driverMinOrdering(idType).get)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType),
        org.apache.spark.sql.types.StructField("cluster", idType)))
      return pairs.sparkSession.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          labeled.map { case (id, cl) =>
            org.apache.spark.sql.Row(id, cl): org.apache.spark.sql.Row
          }.asJava),
        schema)
    }
    sym.persist(StorageLevel.MEMORY_AND_DISK)
    // Every hop is localCheckpoint-ed (lazily) so each hop's output enters
    // the next hop's plan as ONE cached RDD — a fused un-checkpointed
    // double-hop was tried and reverted: the inner hop is referenced twice
    // by the outer one (as aggregation input and join input), duplicating
    // its join+aggregate subplan per iteration. But the convergence COUNT
    // only runs once per `checkEvery` hops: near-duplicate components are
    // shallow (diameter typically ≤ 3), so most runs converge in 2–3 hops
    // and a per-hop count() doubles the loop's job count for checks that
    // almost always say "keep going". `__prev` carries the label from
    // before the round, so one filter+count detects change across all of
    // the round's hops; a converged graph pays at most one no-op extra hop.
    val checkEvery = 2
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var iter = 0
    var changed = 1L
    var doubling = pointerDoubling
    while (changed > 0 && iter < maxIter) {
      val hops = math.min(checkEvery, maxIter - iter)
      var cur = labels.withColumn("__prev", col("label"))
      for (_ <- 0 until hops) {
        val nbrMin = sym
          .join(cur.select(col("id").as("dst"), col("label").as("__nl")), Seq("dst"))
          .groupBy(col("src").as("id")).agg(min("__nl").as("__nbrMin"))
        cur = cur.join(nbrMin, Seq("id"), "left")
          .select(col("id"), col("__prev"),
            least(col("label"), col("__nbrMin")).as("label"))
          .localCheckpoint(false)
        if (doubling) {
          // Path halving: label ← label(label). Every label is a node id
          // (the min of ids seen so far), so the lookup is a self-join;
          // labels are monotone non-increasing, so label(label) ≤ label
          // and `least` + coalesce are only null-guards.
          val parent = cur.select(col("id").as("label"), col("label").as("__ll"))
          cur = cur.join(parent, Seq("label"), "left")
            .select(col("id"), col("__prev"),
              coalesce(least(col("label"), col("__ll")), col("label")).as("label"))
            .localCheckpoint(false)
        }
      }
      changed = cur.filter(col("label") < col("__prev")).count()
      labels = cur.drop("__prev")
      iter += hops
      // adaptive escalation: still moving after `adaptAfter` hops means the
      // graph is deeper than the shallow near-dup shape the plain loop is
      // tuned for — switch the remaining hops to path-halving so distance
      // to the representative shrinks geometrically instead of by 1
      if (!doubling && changed > 0 && iter >= adaptAfter) doubling = true
    }
    sym.unpersist()
    labels.withColumnRenamed("label", "cluster")
  }

  /** Driver-side ordering matching Spark's `least`/`min` semantics for the
    * id types the pair operators emit. Strings compare as UTF8String
    * (binary / code-point order — java.lang.String's UTF-16 order differs
    * for supplementary characters, so the engine comparator is used
    * verbatim). Unsupported types return None and [[clusters]] keeps the
    * distributed loop, whose comparisons are the engine's own. */
  private def driverMinOrdering(dt: org.apache.spark.sql.types.DataType)
      : Option[Ordering[Any]] = dt match {
    case org.apache.spark.sql.types.LongType =>
      Some(Ordering.by((x: Any) => x.asInstanceOf[Long]))
    case org.apache.spark.sql.types.IntegerType =>
      Some(Ordering.by((x: Any) => x.asInstanceOf[Int]))
    case org.apache.spark.sql.types.StringType =>
      Some(new Ordering[Any] {
        def compare(a: Any, b: Any): Int =
          org.apache.spark.unsafe.types.UTF8String
            .fromString(a.asInstanceOf[String])
            .compareTo(org.apache.spark.unsafe.types.UTF8String
              .fromString(b.asInstanceOf[String]))
      })
    case _ => None
  }

  /** In-memory min-label connected components over collected edges, in
    * either direction and possibly repeated: union-find with path compression, then one pass labeling every
    * node with its component's minimum id under `ord`. Edges touching a
    * NULL endpoint register the endpoints but never merge across the null
    * (SQL join equality never matches NULL — the distributed loop leaves a
    * NULL node labeled NULL, reproduced here). Output order is
    * insertion-stable but callers sort anyway (the contract queries all
    * end in ORDER BY). */
  private def driverClusters(rows: Array[org.apache.spark.sql.Row],
                             ord: Ordering[Any]): Seq[(Any, Any)] = {
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val nx = parent.get(c); parent.put(c, r); c = nx }
      r
    }
    var sawNull = false
    rows.foreach { row =>
      val a = row.get(0); val b = row.get(1)
      if (a == null || b == null) sawNull = true
      if (a != null && parent.get(a) == null) parent.put(a, a)
      if (b != null && parent.get(b) == null) parent.put(b, b)
      if (a != null && b != null) {
        val ra = find(a); val rb = find(b)
        if (ra != rb) parent.put(ra, rb)
      }
    }
    val minOf = new java.util.HashMap[Any, Any]()
    parent.keySet.forEach { k =>
      val r = find(k)
      val cur = minOf.get(r)
      if (cur == null || ord.compare(k, cur) < 0) minOf.put(r, k)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Any, Any)]
    parent.keySet.forEach { k => out += ((k, minOf.get(find(k)))) }
    if (sawNull) out += ((null, null))
    out.toSeq
  }

  /** Keep one representative per duplicate cluster: drops every row whose
    * id is in a cluster but is not the cluster's canonical (minimum) id.
    * Rows never mentioned in `pairs` are kept — they are their own
    * cluster. The complement operation to the pair operators: `pairs` in,
    * deduplicated corpus out. */
  def dropNearDuplicates(df: DataFrame, idCol: String,
                         pairs: DataFrame): DataFrame = {
    val doomed = clusters(pairs)
      .filter(col("id") =!= col("cluster"))
      .select(col("id").as(idCol))
    df.join(doomed, Seq(idCol), "left_anti")
  }

  /** Keep the BEST row per duplicate cluster: like [[dropNearDuplicates]],
    * but the surviving representative is the cluster's minimal `keepBy`
    * row (pass e.g. `negate(col("quality"))` to keep the highest-quality
    * copy) rather than the minimal id — the form a curation pipeline
    * wants. Rows never mentioned in `pairs` survive untouched; ties on
    * `keepBy` break on the id, so the choice is deterministic. The
    * per-cluster window partitions on cluster ids whose group sizes are
    * duplicate-group sizes (bounded by duplication, not corpus size). */
  def dropNearDuplicatesBy(df: DataFrame, idCol: String, pairs: DataFrame,
                           keepBy: Column): DataFrame = {
    val cl = clusters(pairs).withColumnRenamed("id", idCol)
    val clustered = df.join(cl, Seq(idCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster").orderBy(keepBy, col(idCol))
    val best = clustered.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "cluster")
    val untouched = df.join(cl.select(col(idCol)), Seq(idCol), "left_anti")
    untouched.unionByName(best)
  }

  /** Exact all-pairs embedding-cosine pairs: every (a, b) with a < b and
    * cosine ≥ threshold. O(n²) candidate pairs — intended for small corpora
    * (or a pre-blocked partition of one); the 100 TB path is the sign-LSH
    * [[embeddingCosine]] whose verification arithmetic this shares. Because
    * the cosine is computed by one sequential f64 loop
    * ([[graft.functions.VectorExpressions.dot]]), the result is
    * engine-independent and oracle-checkable (DuckDB
    * `list_cosine_similarity` over DOUBLE[] is bit-identical). */
  def embeddingCosineExact(df: DataFrame, vecCol: String, idCol: String,
                           threshold: Double = 0.95): DataFrame =
    cosineVerified(df, vecCol, idCol, threshold)((a, b) =>
      a.join(broadcast(b), col("id_a") < col("id_b")))

  /** Embedding-cosine near-duplicate pairs: sign-LSH bucketing then exact
    * cosine verification ≥ threshold. `tables` independent hyperplane sets
    * OR-amplify recall (a pair is a candidate if it collides in ANY table:
    * recall = 1−(1−p^nPlanes)^tables for per-plane agreement p) — a single
    * table's recall collapses for thresholds below ~0.9. Candidate volume
    * scales linearly with `tables`; the exact-cosine filter keeps the
    * output sound regardless. See [[Similarity]] for search. */
  def embeddingCosine(df: DataFrame, vecCol: String, idCol: String,
                      threshold: Double = 0.95, nPlanes: Int = 12,
                      dim: Int = 64, tables: Int = 4,
                      maxBucket: Int = 2000): DataFrame = {
    val allPlanes = (0 until tables).map(t =>
      V.hyperplanes(nPlanes, dim, seed = 42L + t))
    // all tables' buckets in ONE compiled pass over the vector
    val keyed = df
      .select(col(idCol),
        posexplode(V.signBuckets(col(vecCol), allPlanes)).as(Seq("__t", "__b")))
      .select(col(idCol), concat_ws(":", col("__t"), col("__b")).as("__key"))
    val pairs = pairsFromBuckets(keyed, idCol, maxBucket)
    cosineVerified(df, vecCol, idCol, threshold)((a, b) =>
      pairs.join(a, Seq("id_a")).join(b, Seq("id_b")))
  }

  /** Exact-cosine verify shared by the embedding pair operators: `pairUp`
    * joins the two sides (id_a, __v_a, __n_a) and (id_b, __v_b, __n_b) of
    * `df`'s vectors, and every joined pair is kept at cosine ≥ threshold
    * (rounded to 6 places). Norms are computed once per row, not once per
    * pair. */
  private def cosineVerified(df: DataFrame, vecCol: String, idCol: String,
                             threshold: Double)
                            (pairUp: (DataFrame, DataFrame) => DataFrame)
      : DataFrame = {
    val vecs = df.select(col(idCol), col(vecCol),
      V.norm(col(vecCol)).as("__nrm"))
    pairUp(vecs.toDF("id_a", "__v_a", "__n_a"), vecs.toDF("id_b", "__v_b", "__n_b"))
      .withColumn("cosine", V.cosineGivenNorms(
        col("__v_a"), col("__v_b"), col("__n_a"), col("__n_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  // ------------------------------------------------------- semantic dedup

  /** SemDeDup-style semantic near-duplicate pairs — the cluster-then-prune
    * recipe (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540): a
    * k-means coarse quantizer, fit ONCE on a bounded driver-side sample
    * ([[Similarity.fitCentroids]], the same FAISS-style machinery the IVF
    * index uses), assigns every vector to its nearest cell in one
    * scan-side pass; candidate pairs form ONLY within a cell; every
    * candidate is verified with the EXACT cosine before it is emitted.
    *
    * Assignment runs over the vector's DIRECTION ([[Similarity.unitized]]):
    * cosine is magnitude-blind, so the quantizer geometry must be too —
    * and same-direction vectors then assign to the same cell regardless
    * of length, the property the `semdedup*` contract queries turn into a
    * planted-recall theorem. Zero vectors have no direction and never
    * pair (they are still KEPT by [[semanticDedup]] — unmentioned ids
    * survive).
    *
    * Scale shape vs the sign-LSH [[embeddingCosine]]: the shuffle carries
    * (id, cell) keys once instead of one row per hash table, and the
    * candidate volume is governed by data geometry (cluster occupancy,
    * ~n²/nCells ≈ n·√n expected at the ~√n [[Similarity.autoCells]]
    * default) rather than by the planes/tables recall trade — the regime
    * the published algorithm chose for web-scale corpora. Within-cell
    * candidates are quadratic IN THE CELL, bounded by `maxCell` (the same
    * fan-out guard as every bucketed pair operator here; lift it when a
    * row-level contract must be unconditional). Recall < 1 by
    * construction — a true pair split across a cell boundary is never
    * considered, the trade the paper accepts — while precision is exact. */
  def semanticDedupPairs(df: DataFrame, vecCol: String, idCol: String,
                         threshold: Double = 0.95, nCells: Int = 0,
                         seed: Long = 42L, maxCell: Int = 2000): DataFrame = {
    // consumed by the sizing count, the quantizer-fit sample AND the cell
    // assignment — persist so the (possibly expensive — unions, planted
    // transforms, quality filters upstream) input pipeline and the
    // norm/normalize arithmetic run once, not three times
    val unit = Similarity.unitized(df, vecCol, idCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val known = unit.count()
    val cells =
      if (nCells > 0) nCells else Similarity.autoCells(known)
    val centroids = Similarity.fitCentroids(
      unit.select(col("__unit")), "__unit", cells, seed, knownRows = known)
    val keyed = unit.select(col(idCol),
      Similarity.nearestCell(col("__unit"), centroids)
        .cast("string").as("__key"))
    val pairs = pairsFromBuckets(keyed, idCol, maxCell)
    graft.core.CacheAutoRelease.afterFirstUse(unit)
    // cosine on the ORIGINAL vectors — normalization only steered the
    // bucketing
    cosineVerified(df, vecCol, idCol, threshold)((a, b) =>
      pairs.join(a, Seq("id_a")).join(b, Seq("id_b")))
  }

  /** End-to-end SemDeDup: [[semanticDedupPairs]] → connected components →
    * one survivor per semantic cluster. `keepBy` picks the survivor (its
    * MINIMUM row wins — pass `negate(col("quality"))` to keep the best
    * copy, the curation shape); `None` keeps the lowest id. Rows never
    * mentioned in a pair — including zero vectors — survive untouched. */
  def semanticDedup(df: DataFrame, vecCol: String, idCol: String,
                    threshold: Double = 0.95, nCells: Int = 0,
                    seed: Long = 42L, maxCell: Int = 2000,
                    keepBy: Option[Column] = None): DataFrame = {
    // the input feeds the pair operator (assignment + both verification
    // sides) and the survivor join(s) — persist so a derived input
    // (unions, planted copies, quality filters) is computed once instead
    // of once per consumer; MEMORY_AND_DISK spills at corpus scale, which
    // is still cheaper than 4-5 re-derivations of the upstream pipeline
    val in = df.persist(StorageLevel.MEMORY_AND_DISK)
    val pairs = semanticDedupPairs(in, vecCol, idCol, threshold, nCells,
      seed, maxCell)
    val out = keepBy match {
      case Some(better) => dropNearDuplicatesBy(in, idCol, pairs, better)
      case None => dropNearDuplicates(in, idCol, pairs)
    }
    graft.core.CacheAutoRelease.afterFirstUse(in)
    out
  }
}
