package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType,
  StructField, StructType}

import graft.core.DriverKeys
import graft.core.DriverEval.{bound, localFrame}
import graft.functions.{VectorFunctions => V}

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths (north-star extension, SURVEY.md §7.2 step 6):
  *  - [[bruteForceTopK]]: exact baseline — a single scan scoring every
  *    vector against the (broadcast) query batch; correct at any scale but
  *    O(N·Q). Use when Q is small or as the verification oracle.
  *  - [[lshTopK]]: sign-random-projection buckets (an IVF-style coarse
  *    quantizer with 2^planes cells); each query probes only its own cell
  *    plus the `probes` nearest cells (Hamming-adjacent), so the scored
  *    fraction is ~ (1+probes)/2^planes of the corpus. The corpus can be
  *    pre-partitioned (bucketed) by cell id so a probe is a partition-local
  *    lookup — no full scan, no full shuffle at 100 TB.
  */
object Similarity {

  /** Shared rank tail: bounded per-query top-k via [[TopKAggregator]]
    * (map-side partial aggregation — the exchange carries at most
    * k·partitions candidates per query), then posexplode to ranks.
    * Expects a `cosine` column; requires integral id columns (cast to
    * long); null cosines (zero vectors) are excluded — they have no
    * defined similarity. Ties break by id ascending, identically to a
    * window orderBy (cosine desc, id asc). */
  private def rankTopK(scored: DataFrame, queryIdCol: String, idCol: String,
                       k: Int): DataFrame = {
    import scored.sparkSession.implicits._
    scored
      // null = zero vector, NaN = NaN components: neither has a defined
      // similarity, and NaN would break the aggregator's total order
      .filter(col("cosine").isNotNull && !isnan(col("cosine")))
      .select(col(queryIdCol).cast("long"), col("cosine"), col(idCol).cast("long"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .agg(new TopKAggregator(k).toColumn.name("topk"))
      .toDF(queryIdCol, "topk")
      .select(col(queryIdCol), posexplode(col("topk")).as(Seq("__pos", "__item")))
      .select(col(queryIdCol), col("__item._2").as(idCol),
        rounded(col("__item._1")).as("cosine"),
        (col("__pos") + 1).cast("int").as("rank"))
  }

  /** The score a ranked answer returns: the cosine rounded to 6 places. */
  private def rounded(cosine: org.apache.spark.sql.Column) = round(cosine, 6)

  /** Exact cosine of a corpus vector against the query batch's `__qvec`,
    * given the stored `__cn` and the query's `__qn`. */
  private def exactCosine(vecCol: String) = V.cosineGivenNorms(
    col(vecCol), col("__qvec"), col("__cn"), col("__qn"))

  /** Exact re-rank of an ANN shortlist: `rows` carries `(idCol, vecCol,
    * __cn)` (the stored or computed corpus norm); the shortlist's
    * `(queryIdCol, idCol)` pairs and the `qExact` query batch (see
    * [[withQueryNorm]]) broadcast into it, so fan-in is bounded by
    * Q·shortlist rows, and exact cosines feed [[rankTopK]]. */
  private def exactRerank(rows: DataFrame, shortlist: DataFrame,
                          qExact: DataFrame, vecCol: String, idCol: String,
                          queryIdCol: String, k: Int): DataFrame = {
    val rescored = rows
      .select(col(idCol).cast("long").as(idCol), col(vecCol), col("__cn"))
      .join(broadcast(shortlist), Seq(idCol))
      .join(broadcast(qExact), Seq(queryIdCol))
      .withColumn("cosine", exactCosine(vecCol))
    rankTopK(rescored, queryIdCol, idCol, k)
  }

  /** Query batch with its norm precomputed, vector aliased for the join.
    * Fails fast on column collisions that would otherwise surface as an
    * ambiguous-reference error deep inside the plan. `allowed` names are
    * corpus columns this code path intends to carry (e.g. a bucketed
    * corpus's precomputed `__cell`/`__cn`). */
  private def withQueryNorm(queries: DataFrame, corpusCols: Seq[String],
                            queryIdCol: String, vecCol: String,
                            allowed: Set[String] = Set.empty): DataFrame = {
    val internal = Set(queryIdCol, "__qvec", "__qn", "__cn", "__cell", "cosine") -- allowed
    val clashes = corpusCols.filter(internal.contains)
    require(clashes.isEmpty,
      s"corpus columns ${clashes.mkString(", ")} collide with the query-side " +
        s"projection; rename them (queryIdCol must not appear in the corpus)")
    queries.select(col(queryIdCol), col(vecCol).as("__qvec"),
      V.norm(col(vecCol)).as("__qn"))
  }

  /** Exact top-k neighbors for each query vector. `queries` is expected to
    * be small (it is broadcast); the corpus is never shuffled for scoring —
    * and the rank step is a [[TopKAggregator]] with map-side partial
    * aggregation, so the exchange carries at most k·partitions candidates
    * per query instead of every scored row (a window-rank would sort the
    * full scored relation). Requires integral id columns (cast to long).
    * Zero-vector corpus rows (null cosine) are excluded — they have no
    * defined similarity. Returns (queryIdCol, idCol, cosine, rank); ties
    * break by id ascending, identically to a window orderBy. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     vecCol: String, idCol: String, queryIdCol: String,
                     k: Int): DataFrame = {
    val q = withQueryNorm(queries, corpus.columns, queryIdCol, vecCol)
    val scored = corpus
      .withColumn("__cn", V.norm(col(vecCol)))
      .join(broadcast(q))
      .withColumn("cosine", exactCosine(vecCol))
    rankTopK(scored, queryIdCol, idCol, k)
  }

  // ------------------------------------------------------------------- IVF

  /** Per-row array of (distance-rank key, cell) structs against fixed
    * centroids: rank by ||c||² − 2·v·c (the row-independent ||v||² term
    * cannot change the order); ties break on the cell id (second struct
    * field). One compiled pass of `nCells` native dot products per row. */
  private def cellDistStructs(vec: org.apache.spark.sql.Column,
                              centroids: Array[Array[Double]]) =
    array(centroids.zipWithIndex.map { case (c, i) =>
      struct((lit(squaredNorm(c)) - lit(2.0) * V.dot(vec, lit(c))).as("d"),
        lit(i).as("cell"))
    }.toIndexedSeq: _*)

  private def squaredNorm(c: Array[Double]): Double = c.map(x => x * x).sum

  /** One query's cells in probe order, on the driver: the [[cellDistStructs]]
    * + `array_sort` order [[withProbeCells]] computes in Spark, bit for bit —
    * the same left-to-right f64 dot, the same (‖c‖² − 2 q·c, cell) key, and
    * Spark's double ordering (NaN last, −0.0 = 0.0). A null vector or a
    * dimension mismatch makes every distance null; nulls sort first, so the
    * order is then plain cell-id order. Shared by the probe and
    * [[ivfPqCalibrate]]. */
  private[graft] def rankCells(q: Array[Double],
                               centroids: Array[Array[Double]]): Array[Int] = {
    val cells = Array.range(0, centroids.length)
    if (q == null || centroids.isEmpty || q.length != centroids(0).length)
      cells
    else {
      val d = centroids.map { c =>
        var dot = 0.0; var j = 0
        while (j < c.length) { dot += q(j) * c(j); j += 1 }
        squaredNorm(c) - 2.0 * dot
      }
      cells.sortWith { (a, b) =>
        val o = org.apache.spark.sql.catalyst.util.SQLOrderingUtil
          .compareDoubles(d(a), d(b))
        if (o != 0) o < 0 else a < b
      }
    }
  }

  /** A collected array column as doubles (float elements widen exactly;
    * a null element reads as 0.0, as the native kernels read it). */
  private def doubles(v: scala.collection.Seq[Any]): Array[Double] =
    if (v == null) null
    else v.iterator.map {
      case x: Number => x.doubleValue
      case _ => 0.0
    }.toArray

  /** Nearest-centroid cell id for a corpus row (the quantizer assignment):
    * the native fused argmin ([[graft.functions.NearestCellExpr]] — zero
    * per-row allocation, bit-identical distances and tie rule to the
    * [[cellDistStructs]] ranking the query side still uses, so corpus
    * assignment and probe ranking stay mutually consistent). */
  private[graft] def nearestCell(vec: org.apache.spark.sql.Column,
                                 centroids: Array[Array[Double]]) =
    graft.functions.VectorExpressions.nearestCell(vec, centroids)

  /** (idCol, vecCol, __nrm, __unit) with zero vectors EXCLUDED (they have
    * no direction, hence no defined cosine). `__unit` is the L2-normalized
    * DIRECTION — the cosine-compatible quantizer geometry: cosine is
    * magnitude-blind, so clustering directions instead of raw vectors
    * keeps the cell metric aligned with the similarity being searched.
    * Same-direction vectors whose lengths differ by a power of two
    * normalize to the IDENTICAL double array (2ᵏ-scaling commutes with
    * every FP rounding step: products, sums, sqrt, and the final division
    * all scale exactly), which is what makes planted ×2-copy recall a
    * theorem in the `semdedup*`/`knn_join` contract queries. */
  private[graft] def unitized(df: DataFrame, vecCol: String,
                              idCol: String): DataFrame = {
    val nrm = V.norm(V.toDouble(col(vecCol)))
    df.select(col(idCol), col(vecCol), nrm.as("__nrm"))
      .filter(col("__nrm") > 0.0)
      .withColumn("__unit",
        transform(V.toDouble(col(vecCol)), x => x / col("__nrm")))
  }

  /** Attach one row per (query, probed cell): the `nProbe` nearest cells. */
  private[graft] def withProbeCells(q: DataFrame,
                                    centroids: Array[Array[Double]],
                                    nProbe: Int): DataFrame =
    q.withColumn("__probe",
        slice(array_sort(cellDistStructs(col("__qvec"), centroids)), 1, nProbe))
      .withColumn("__cell", explode(col("__probe.cell")))
      .drop("__probe")

  /** Cell-count heuristic for a corpus of `n` vectors: ~√n, floored at 16
    * and capped at 256. FAISS guidance for IVF list counts is the same √n
    * order; the cap is specific to this engine — cell ASSIGNMENT is one
    * generated dot-product expression per cell per row, so unbounded cell
    * counts inflate the assignment projection past what codegen/JIT
    * handles well, while the probed fraction (~nProbe/nCells) keeps
    * shrinking as 1/√n up to the cap. Measured in SCALEPROBE.json
    * `ann_scale` (probe cost stays flat in corpus size under this
    * default). */
  private[graft] def autoCells(n: Long): Int =
    math.max(16, math.min(256, math.sqrt(n.toDouble).toInt))

  /** Coarse-quantizer fit: k-means over a BOUNDED sample collected to the
    * driver (the FAISS recipe). The sample is capped at `fitSampleRows`
    * vectors, so the fit costs one counted+sampled scan plus an in-memory
    * Lloyd's run — constant work regardless of corpus size — instead of
    * per-iteration distributed jobs over the full corpus (which at 100 TB
    * would be several full passes just to place 16 centroids). Cell
    * ASSIGNMENT always covers the full corpus scan-side. Deterministic for
    * a fixed seed. `fitSampleFraction` ∈ (0, 1) forces a specific sampling
    * rate; the default (≤ 0 = auto) sizes the rate so ~`fitSampleRows`
    * rows survive. */
  private[graft] def fitCentroids(corpus: DataFrame, vecCol: String,
                                  nCells: Int, seed: Long,
                                  fitSampleFraction: Double = 0.0,
                                  fitSampleRows: Int = 4096,
                                  knownRows: Long = -1L): Array[Array[Double]] = {
    val targetRows = math.max(fitSampleRows, 32 * nCells)
    val vecs = corpus.select(V.toDouble(col(vecCol)).as("__v"))
    // Only the AUTO path caps with limit(): its sample() was already sized
    // to ~targetRows, so the cap is a safety bound on an unbiased sample.
    // An explicit fraction (or full fit) is honored verbatim — a blanket
    // limit() would silently replace it with a leading-rows prefix, which
    // on source-ordered corpora concentrates every centroid in the first
    // region. Callers choosing fractions own the driver-memory cost.
    val sampled =
      if (fitSampleFraction > 0 && fitSampleFraction < 1.0)
        vecs.sample(withReplacement = false, fitSampleFraction, seed)
      else if (fitSampleFraction >= 1.0) vecs
      else {
        // auto: parquet count is row-group-metadata cheap; oversample 10%
        // then cap, so the collect stays bounded. Callers that already
        // counted for autoCells pass knownRows — one scan, not two (a
        // union-with-transforms corpus makes the count a real pass).
        val n = if (knownRows >= 0) knownRows else vecs.count()
        if (n <= targetRows) vecs
        else vecs.sample(withReplacement = false,
          math.min(1.0, targetRows.toDouble * 1.1 / n), seed)
          .limit(targetRows)
      }
    val points = sampled.collect().map(_.getSeq[Double](0).toArray)
    require(points.nonEmpty, "cannot fit a quantizer on an empty corpus")
    kmeansLocal(points, nCells, seed)
  }

  /** Deterministic in-memory k-means++ + Lloyd over the (bounded) fit
    * sample. `points` is at most `fitSampleRows` vectors, so this is
    * microseconds-to-milliseconds of driver CPU. */
  private def kmeansLocal(points: Array[Array[Double]], k: Int, seed: Long,
                          iters: Int = 10): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    val kk = math.min(k, points.length)
    val dim = points(0).length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    // k-means++ seeding: next center drawn ∝ distance² to nearest center.
    // The nearest-center distance array is maintained INCREMENTALLY (only
    // the newest center can lower it), so seeding is O(k·n·d) instead of
    // the O(k²·n·d) of recomputing the min over all centers per step —
    // the difference between milliseconds and tens of seconds once the
    // √n heuristic pushes k to 256.
    val centers = scala.collection.mutable.ArrayBuffer(points(rnd.nextInt(points.length)))
    val minD = points.map(p => d2(p, centers(0)))
    while (centers.length < kk) {
      val total = minD.sum
      if (total <= 0) centers += points(rnd.nextInt(points.length))
      else {
        var r = rnd.nextDouble() * total; var i = 0
        while (i < points.length - 1 && r > minD(i)) { r -= minD(i); i += 1 }
        centers += points(i)
      }
      val c = centers.last
      var j = 0
      while (j < points.length) {
        val d = d2(points(j), c)
        if (d < minD(j)) minD(j) = d
        j += 1
      }
    }
    var cents = centers.toArray
    for (_ <- 0 until iters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Long](kk)
      points.foreach { p =>
        var best = 0; var bestD = d2(p, cents(0)); var c = 1
        while (c < kk) { val d = d2(p, cents(c)); if (d < bestD) { bestD = d; best = c }; c += 1 }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += p(i); i += 1 }
      }
      cents = Array.tabulate(kk) { c =>
        if (counts(c) == 0) cents(c)
        else { val a = sums(c); var i = 0; while (i < dim) { a(i) /= counts(c); i += 1 }; a }
      }
    }
    cents
  }

  /** IVF (inverted-file) approximate top-k: a k-means coarse quantizer
    * partitions the corpus into `nCells` cells; each query probes only the
    * `nProbe` nearest cells, so the scored fraction is ~nProbe/nCells of
    * the corpus. The quantizer is fit on a bounded driver-side sample by
    * default ([[fitCentroids]]); cells are assigned once scan-side;
    * centroids are tiny and broadcast. Exact cosine scoring within probed
    * cells + the bounded [[TopKAggregator]] — recall < 1 by construction,
    * scores never approximate. Deterministic for a fixed seed. For a
    * persisted, physically cell-partitioned corpus (probes become
    * partition-pruned reads) see [[ivfPqBuild]]/[[ivfPqProbeTopK]].
    * `nCells ≤ 0` (the default) sizes the quantizer as ~√n via
    * [[autoCells]] — one extra metadata-cheap count of the corpus.
    * `nProbe ≤ 0` (the default) probes cells/8: with auto-sized cells a
    * FIXED probe count would silently collapse the scored fraction (and
    * recall) as the corpus grows — tying the default to the cell count
    * keeps the scored fraction at ~1/8 regardless of what autoCells
    * picked. Pass an explicit nProbe to trade recall for probe cost. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              vecCol: String, idCol: String, queryIdCol: String,
              k: Int, nCells: Int = 0, nProbe: Int = 0,
              seed: Long = 42L, fitSampleFraction: Double = 0.0,
              fitSampleRows: Int = 4096): DataFrame = {
    val known = if (nCells > 0) -1L else corpus.count()
    val cells = if (nCells > 0) nCells else autoCells(known)
    val probes = if (nProbe > 0) nProbe else math.max(1, cells / 8)
    val centroids = fitCentroids(corpus, vecCol, cells, seed,
      fitSampleFraction, fitSampleRows, knownRows = known)
    val assigned = corpus
      .select(col(idCol), col(vecCol),
        nearestCell(col(vecCol), centroids).as("__cell"),
        V.norm(col(vecCol)).as("__cn"))
    val q = withProbeCells(
      withQueryNorm(queries, corpus.columns, queryIdCol, vecCol),
      centroids, probes)
    val scored = assigned
      .join(broadcast(q), Seq("__cell"))
      .withColumn("cosine", exactCosine(vecCol))
    rankTopK(scored, queryIdCol, idCol, k)
  }

  /** Standing coarse quantizer of a persisted index (tiny: nCells rows,
    * ordered on the driver). */
  private def loadCentroids(spark: SparkSession,
                            path: String): Array[Array[Double]] =
    spark.read.parquet(s"$path/centroids").collect()
      .sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray)

  /** Standing PQ codebooks of a persisted IVF-PQ index (m·ksub rows,
    * ordered on the driver). */
  private def loadPqModel(spark: SparkSession, path: String): PqModel = {
    val books = spark.read.parquet(s"$path/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .sortBy(b => (b._1, b._2))
    val codebooks = books.groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.map(_._3)).toArray
    PqModel(codebooks.length, codebooks(0)(0).length, codebooks)
  }

  /** The frozen model of a persisted index as of ONE generation: the
    * coarse quantizer, the PQ codebooks and the `data/` schema. Every
    * write that replaces the model writes a new [[GenerationFile]]
    * ([[ivfPqBuild]], [[stagedRebuild]]); appends and [[indexDelete]]
    * keep the model and the schema, so a handle stays valid for exactly
    * its generation. */
  private final case class IndexModel(centroids: Array[Array[Double]],
                                      pq: PqModel, dataSchema: StructType)

  /** Handles by (qualified index path, generation uuid), the least
    * recently used evicted past `MaxModels`. Only a probe stores one, and
    * only after its post-plan [[requireGenerationUnchanged]] passed, so a
    * stored model always matches its generation's files; an index with no
    * generation marker is never cached. */
  private val MaxModels = 16
  private val models =
    new java.util.LinkedHashMap[(String, String), IndexModel](MaxModels,
        0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String), IndexModel]): Boolean =
        size() > MaxModels
    }

  private def modelKey(spark: SparkSession, path: String,
                       gen: Option[String]): Option[(String, String)] =
    gen.map { g =>
      val p = new org.apache.hadoop.fs.Path(path)
      (p.getFileSystem(spark.sessionState.newHadoopConf())
        .makeQualified(p).toString, g)
    }

  /** The stored handle of generation `gen` of the index at `path`, if any. */
  private def cachedModel(spark: SparkSession, path: String,
                          gen: Option[String]): Option[IndexModel] =
    modelKey(spark, path, gen).flatMap(k =>
      models.synchronized(Option(models.get(k))))

  private def storeModel(spark: SparkSession, path: String,
                         gen: Option[String], model: IndexModel): Unit =
    modelKey(spark, path, gen).foreach(k =>
      models.synchronized(models.put(k, model)))

  /** (centroids, codebooks) from `handle`, else read from the relations. */
  private def quantizers(spark: SparkSession, path: String,
                         handle: Option[IndexModel])
      : (Array[Array[Double]], PqModel) =
    handle.fold((loadCentroids(spark, path), loadPqModel(spark, path)))(h =>
      (h.centroids, h.pq))

  /** The whole `data/` relation, opened the way a probe opens its cells:
    * one driver-side listing of the cell directories ([[partitionDirs]])
    * read through [[readPartitionDirs]], so no open starts a
    * |cells|-task parallel-discovery job. With `schema` (the relation's
    * full schema, or [[CellOnly]]) no schema-inference job runs either. */
  private def readData(spark: SparkSession, path: String,
                       schema: Option[StructType]): DataFrame =
    readPartitionDirs(spark, s"$path/data",
      partitionDirs(spark, s"$path/data", "__cell").toSeq.sorted.map(_._2),
      schema)

  /** A `data/` schema of the directory-derived cell column alone: a read
    * with it scans no data column (row counts come from the footers). */
  private val CellOnly = StructType(Seq(StructField("__cell", IntegerType)))

  /** Write index rows into the `__cell=` directories under `dir`, ONE part
    * file per written cell: the rows are hash-partitioned on `__cell`
    * into the session's default parallelism first, so each cell lands
    * whole in one task. Without it every input partition writes its own
    * file into every cell it holds; each extra file costs ~9 ms to write
    * and ~1.4 ms at every later full scan (10 k × 64-d rows into 64
    * cells, local[4] on a 4-core box). A skewed cell lands whole in one
    * task too. The count is explicit on purpose: a count-less
    * repartition (or the REBALANCE hint) lets adaptive execution
    * coalesce a small batch into ONE task that writes every cell's file
    * serially. */
  private def writeCells(rows: DataFrame, dir: String, mode: String): Unit =
    rows.repartition(rows.sparkSession.sparkContext.defaultParallelism,
        col("__cell"))
      .write.mode(mode).partitionBy("__cell").parquet(dir)

  /** Per-cell row counts of the `data/` relation at `path`, as (`cell`,
    * `n`) rows; reads only the directory-derived cell column. */
  private def cellCounts(spark: SparkSession, path: String): DataFrame =
    readData(spark, path, Some(CellOnly))
      .groupBy("__cell")
      .agg(count(lit(1)).as("n"))
      .select(col("__cell").as("cell"), col("n"))

  /** Per-cell row counts of a persisted index — the [[ivfPqMaintain]]
    * skew and growth gauge (skewed counts = expensive probes on the hot
    * cells). Scans only the partition column (directory-derived), not
    * the vectors. */
  def ivfCellStats(spark: SparkSession, path: String): DataFrame = {
    requireIndex(spark, path)
    cellCounts(spark, path)
  }

  /** Checked rename shared by every fenced mutation ([[stagedRebuild]],
    * [[indexDelete]]): a failed rename mid-swap must stop the swap WITH
    * the recovery story, never continue past a half-moved piece. One
    * wording, one discipline — the two fenced paths cannot drift. */
  private def renameOrDie(fs: org.apache.hadoop.fs.FileSystem,
                          path: String, op: String)(
      from: org.apache.hadoop.fs.Path,
      to: org.apache.hadoop.fs.Path): Unit =
    if (!fs.rename(from, to)) throw new IllegalStateException(
      s"$op: rename $from -> $to failed mid-swap; the index at $path is " +
        s"fenced by its $RebuildMarker marker — restore the pieces from " +
        ".old/.staging (or rebuild from source) before removing the marker")

  /** Run `body` (the swap section of a fenced mutation) under the
    * `.rebuilding` marker: readers/appenders refuse the index while it
    * holds, and a crash inside leaves the marker for recovery. */
  private def withRebuildFence(fs: org.apache.hadoop.fs.FileSystem,
                               root: org.apache.hadoop.fs.Path)(
      body: => Unit): Unit = {
    val marker = new org.apache.hadoop.fs.Path(root, RebuildMarker)
    fs.create(marker, true).close()
    body
    fs.delete(marker, false)
  }

  /** Writer lease EVERY index writer holds for the span in which its
    * reads and writes must be mutually consistent: whole-mutation paths
    * ([[stagedRebuild]], [[indexDelete]]) from their FIRST read of the
    * relations to their last swap, and APPENDS ([[ivfPqAppend]]) from
    * their quantizer/codebook read to their last data write — the mechanical backstop behind the
    * documented single-writer contract. The `.rebuilding` fence only
    * covers the brief swap, which keeps PROBES live through the long
    * staging build but would leave a silent-loss window for appends that
    * merely CHECKED the lease: an append whose write was in flight when a
    * mutation's staging read listed the relation writes rows the swap
    * then replaces — gone without an error (the r18 check-then-write
    * hole). HELD for the whole append, the interleaving is structurally
    * impossible: whichever writer acquires second refuses loudly. Probes
    * do NOT touch the lease — their availability is the reason the fence
    * is narrow. OVERWRITE builds ([[ivfPqBuild]]) hold it too,
    * acquire-or-create (a build is the one
    * writer legitimately pointed at an absent root, so it creates the
    * root and then takes the lease like everyone else): although a build
    * stages nothing from the index's own rows, it REPLACES `data/` — a
    * nightly rebuild-from-source racing a live append's in-flight write
    * would otherwise overwrite the appended rows after their fence
    * advanced, the exact silent-loss mode the lease exists to prevent
    * (closed r20; r19 left builds outside by design and the race silent).
    * Hidden (dot-prefixed): never enters a relation read or a gauge
    * sample.
    *
    * The marker is not empty: acquisition stamps a diagnostic payload
    * (`op=`/`acquired=`/`host=`/`pid=` lines) and the refusal message
    * quotes it — a crashed mutation's leftover lease blocks every
    * subsequent writer (including each streaming `annAppendSink` epoch)
    * until an operator intervenes, and "confirm no writer is running"
    * is only actionable when the refusal names WHICH writer, since WHEN,
    * and WHERE to look for it. */
  private val MutatingMarker = ".mutating"

  /** Diagnostic payload stamped into a freshly-acquired lease marker:
    * who holds it, since when, from which JVM. Line-based `k=v` so the
    * recovery runbook (and [[describeHolder]]) can read it with nothing
    * but `cat`. */
  private def leasePayload(op: String): String = {
    val host =
      try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: Exception => "unknown-host" }
    s"op=$op\nacquired=${java.time.Instant.now()}\n" +
      s"host=$host\npid=${ProcessHandle.current().pid()}\n"
  }

  /** Best-effort description of the current lease holder, read from the
    * marker's payload for the refusal message: "held by ivfPqMaintain
    * since 2026-08-16T12:00:00Z (age 42s) on host-7 pid 123". Degrades
    * to naming WHY the holder is unknown (pre-payload marker, read
    * mid-stamp, unreadable) — a diagnostic read must never replace the
    * refusal with its own failure. */
  private def describeHolder(fs: org.apache.hadoop.fs.FileSystem,
                             marker: org.apache.hadoop.fs.Path): String =
    try {
      val in = fs.open(marker)
      // readAllBytes, not a single read(buf): a first read may legally
      // return a prefix, which would misreport a fully-stamped lease as
      // payload-less (the fence reader uses the same discipline)
      val content = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      val kv = content.linesIterator.flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k -> v)
        case _           => None
      }).toMap
      (kv.get("op"), kv.get("acquired")) match {
        case (Some(op), Some(at)) =>
          val age =
            try {
              val secs = java.time.Duration.between(
                java.time.Instant.parse(at), java.time.Instant.now())
                .getSeconds
              if (secs < 0) " (age: negative — clock skew)"
              else if (secs < 120) s" (age ${secs}s)"
              else if (secs < 7200) s" (age ${secs / 60}m)"
              else s" (age ${secs / 3600}h)"
            } catch { case _: Exception => "" }
          val where = (kv.get("host"), kv.get("pid")) match {
            case (Some(h), Some(p)) => s" on $h pid $p"
            case _                  => ""
          }
          s"held by $op since $at$age$where"
        case _ =>
          "holder unknown: the marker carries no payload (a pre-payload " +
            "writer created it, or it was read mid-stamp)"
      }
    } catch {
      case _: Exception =>
        "holder unknown: the marker payload could not be read"
    }

  /** Appended to the lease-refusal message on the append paths: the
    * retry story differs from a mutation's (streaming ingest redelivers
    * the refused epoch; a maintain/delete just reruns). */
  private val AppendLeaseHint =
    " A refused append is safe to retry after the holder completes" +
      " (streaming ingest redelivers the epoch)."

  /** The ONE acceptance rule for holding the writer lease on `fs`:
    * create-exclusive is atomic there, or the deployment explicitly
    * opted into the advisory downgrade. Shared by [[withMutationLease]]
    * and `StreamOps.annAppendSink`'s start-time gate so the sink's
    * fail-fast can never drift from what the appends actually enforce.
    * `conf` must be a FRESH session conf, not `fs.getConf`: FileSystem
    * instances are cached with the conf they were first created under,
    * so an operator who hits the refusal and sets the flag as
    * instructed would otherwise keep being refused by the stale cached
    * copy. */
  private[graft] def leaseExclusiveOrOptedIn(
      fs: org.apache.hadoop.fs.FileSystem,
      conf: org.apache.hadoop.conf.Configuration): Boolean =
    graft.sinks.SnapshotStore.atomicRenameCapable(fs) ||
      conf.getBoolean("graft.index.allowNonExclusiveLease", false)

  /** The lease's scheme gate as a loud require, shared by
    * [[withMutationLease]] and the builds' [[buildPrecheck]] fail-fast
    * so the wording (and the opt-in it names) cannot drift. */
  private def requireLeasableScheme(spark: SparkSession,
                                    fs: org.apache.hadoop.fs.FileSystem,
                                    op: String): Unit =
    require(leaseExclusiveOrOptedIn(fs,
        spark.sessionState.newHadoopConf()),
      s"$op: the $MutatingMarker writer lease requires an atomic " +
        s"create-exclusive, which '${fs.getScheme}' does not provide " +
        "(object-store create is HEAD-then-PUT; two racing writers could " +
        "both acquire the lease and silently lose data). Host the index " +
        "on an HDFS-compatible filesystem, or — acknowledging that the " +
        "lease degrades to advisory and the single-writer contract must " +
        "be enforced externally — set " +
        "graft.index.allowNonExclusiveLease=true in the Hadoop conf.")

  /** The one already-leased refusal, shared by [[withMutationLease]]'s
    * atomic acquisition and the builds' advisory precheck — one wording,
    * one holder-quoting discipline. */
  private def leaseRefusal(fs: org.apache.hadoop.fs.FileSystem,
                           root: org.apache.hadoop.fs.Path,
                           marker: org.apache.hadoop.fs.Path,
                           op: String, hint: String): IllegalStateException =
    new IllegalStateException(
      s"$op: the index at $root is already leased by another writer " +
        s"($MutatingMarker exists; ${describeHolder(fs, marker)}) — " +
        "appends/maintenance/deletes/builds are " +
        "single-writer, and interleaving them loses data silently." +
        hint +
        " If no other writer is running (a crashed mutation left the " +
        "lease — check the quoted holder/host/age), verify the index " +
        "and delete the marker to release it")

  /** Fail-fast for the overwrite builds, run BEFORE the corpus count and
    * quantizer/codebook fit: at scale the auto-sizing count is a full
    * corpus scan, and paying it ahead of a CERTAIN refusal (non-leasable
    * scheme) or a near-certain one (root already leased) wastes the most
    * expensive part of the build. The marker check here is ADVISORY —
    * acquisition inside [[withMutationLease]] still decides atomically;
    * this only surfaces the refusal before the spend, quoting the same
    * holder payload. */
  private def buildPrecheck(spark: SparkSession,
                            fs: org.apache.hadoop.fs.FileSystem,
                            root: org.apache.hadoop.fs.Path,
                            op: String): Unit = {
    requireLeasableScheme(spark, fs, op)
    val marker = new org.apache.hadoop.fs.Path(root, MutatingMarker)
    if (fs.exists(marker)) throw leaseRefusal(fs, root, marker, op, "")
  }

  /** Acquire the writer lease create-exclusively (two racing writers
    * cannot both win), run `body`, release. A body that THROWS releases
    * the lease — the live index was not touched before the fenced swap,
    * and the swap's own crash story is the `.rebuilding` marker. A
    * process CRASH leaves the lease; the loud message carries the
    * recovery step (confirm no writer is running, delete the marker)
    * and QUOTES the crashed holder's stamped payload — op, acquisition
    * time, host, pid — so "confirm" has something to confirm with.
    *
    * The mutual exclusion rests on `create(marker, overwrite=false)`
    * being ATOMIC, which holds on HDFS-compatible filesystems but not on
    * object stores (s3a-like create is HEAD-then-PUT — two racing
    * writers can both "win" and interleave, exactly the silent loss the
    * lease exists to prevent). Those schemes are refused loudly per
    * [[leaseExclusiveOrOptedIn]], with the same explicit opt-in
    * discipline as the SnapshotStore control files: a deployment that
    * guarantees a single writer externally can acknowledge the
    * downgrade-to-advisory with
    * `graft.index.allowNonExclusiveLease=true` in the Hadoop conf. */
  private def withMutationLease[T](spark: SparkSession,
                                   fs: org.apache.hadoop.fs.FileSystem,
                                   root: org.apache.hadoop.fs.Path,
                                   op: String, hint: String = "",
                                   createRoot: Boolean = false)(
      body: => T): T = {
    requireLeasableScheme(spark, fs, op)
    // nothing to lease where no index exists: creating the marker would
    // mkdirs the root as a side effect, littering a typo'd path with an
    // empty directory the eventual read error never explains. Overwrite
    // BUILDS are the exception (createRoot): a build is the one writer
    // legitimately pointed at an absent root — it creates the root and
    // then holds the lease like every other writer, so a build racing a
    // live append refuses at acquisition instead of replacing data/ under
    // the append's feet.
    if (!fs.exists(root)) {
      if (createRoot) fs.mkdirs(root)
      else throw new IllegalArgumentException(
        s"$op: no index at $root — nothing to mutate; build it first")
    }
    val marker = new org.apache.hadoop.fs.Path(root, MutatingMarker)
    val acquired =
      try { fs.create(marker, false).close(); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case e: java.io.IOException =>
          // a permission or transient-FS failure is NOT "already
          // leased" — directing the operator to delete a marker that
          // does not exist buries the real error. Only an existing
          // marker reads as a lease conflict. (On a filesystem that
          // reports existing-file conflicts as plain IOExceptions, a
          // conflicting writer releasing between the create and this
          // check can still land here — hence the retry hedge below.)
          if (fs.exists(marker)) false
          else throw new java.io.IOException(
            s"$op: creating the $MutatingMarker lease at $root failed " +
              "and no lease exists — likely a filesystem error, not a " +
              "writer conflict (see cause); if the cause reads like " +
              "'file exists', a racing writer completed meanwhile and " +
              "a retry will acquire cleanly", e)
      }
    if (!acquired) throw leaseRefusal(fs, root, marker, op, hint)
    // the marker is OURS now: stamp the diagnostic payload (who/since
    // when/where) so a crashed mutation's refusal can name the holder.
    // The atomic create-exclusive above stays the mutual-exclusion
    // primitive; this overwrite-create rewrites a file we hold. A failed
    // stamp RELEASES the lease rather than leaking an anonymous one.
    try {
      val out = fs.create(marker, true)
      try out.write(leasePayload(op).getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } catch {
      case e: Throwable =>
        // the release itself can fail on the same flaky filesystem — it
        // must never REPLACE the stamp failure as the surfaced error
        try fs.delete(marker, false)
        catch { case d: Throwable => e.addSuppressed(d) }
        throw e
    }
    try body finally { fs.delete(marker, false); () }
  }

  /** Staged in-place rebuild of [[ivfPqMaintain]]: run `build` against
    * `<path>/.staging`, then swap the named relations into place. The
    * swap is rename-based and brief but NOT atomic: the torn window (some
    * relations new, some old — e.g. probing new cells with old centroids,
    * which would silently corrupt results) is fenced by the `.rebuilding`
    * marker written before the first rename and removed after the last —
    * readers and appenders refuse a marked index, every rename result is
    * checked, and a crashed swap is recovered by restoring the relations
    * from `.old`/`.staging` (both live next to the marker) rather than by
    * trusting whatever mix the crash left. A crash BEFORE the first
    * rename leaves only `.staging` to delete; the live index is touched
    * only after the staging build completed. Single-writer, like every
    * mutation path. */
  private def stagedRebuild(spark: SparkSession, path: String,
                            halves: Seq[String])(
      build: String => Unit): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val staging = new org.apache.hadoop.fs.Path(root, ".staging")
    fs.delete(staging, true) // a crashed previous rebuild's write half
    build(staging.toString)
    val old = new org.apache.hadoop.fs.Path(root, ".old")
    fs.delete(old, true)
    fs.mkdirs(old)
    val rod = renameOrDie(fs, path, "index rebuild") _
    def swap(name: String): Unit = {
      rod(new org.apache.hadoop.fs.Path(root, name),
        new org.apache.hadoop.fs.Path(old, name))
      rod(new org.apache.hadoop.fs.Path(staging, name),
        new org.apache.hadoop.fs.Path(root, name))
    }
    withRebuildFence(fs, root) {
      halves.foreach(swap)
      // new generation: in-flight probes that loaded the replaced
      // quantizer re-check this after planning and fail loudly instead
      // of pruning the rebuilt files with stale centroids
      writeGeneration(spark, path)
    }
    fs.delete(old, true)
    fs.delete(staging, true)
    // the session may hold cached file listings for the replaced
    // directories (FileStatusCache); drop them so same-session reads see
    // the rebuilt files instead of failing on vanished part files
    halves.foreach(d => spark.catalog.refreshByPath(s"$path/$d"))
  }

  /** Cell-health kernel of [[ivfPqMaintain]]: (total rows, max/mean skew over STORED cells, `autoCells(total)`,
    * stored cell count). The mean is over ALL stored cells — empty cells
    * have no directory but do dilute it: an index where half the cells
    * emptied out is skewed. A bounded read: per-cell counts are directory
    * metadata, centroids are nCells rows. */
  private def cellHealth(spark: SparkSession,
                         path: String): (Long, Double, Int, Int) = {
    val counts = ivfCellStats(spark, path).collect().map(_.getLong(1))
    val nCellsStored = cachedModel(spark, path, readGeneration(spark, path))
      .fold(spark.read.parquet(s"$path/centroids").count().toInt)(
        _.centroids.length)
    val total = counts.sum
    val skew =
      if (counts.isEmpty || total == 0) 0.0
      else counts.max / (total.toDouble / math.max(1, nCellsStored))
    (total, skew, autoCells(total), nCellsStored)
  }

  /** Fence file a mid-swap [[ivfPqMaintain]]/[[indexDelete]] (or a
    * mid-overwrite [[ivfPqBuild]]) leaves behind; see
    * [[requireNotRebuilding]]. */
  private val RebuildMarker = ".rebuilding"

  /** The stamped generation agrees with `gen` — including the
    * "none"=="none" case of an index predating the generation marker.
    * A cal file with NO stamp (pre-stamp vintage) never validates:
    * recalibrating is cheap, a width of unknown provenance is not. */
  private def calStampMatches(calText: String,
                              gen: Option[String]): Boolean =
    """"gen"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(calText)
      .map(_.group(1))
      .contains(gen.getOrElse("none"))

  /** Write a calibration artifact so a crash can never install a torn
    * width: tmp + atomic rename where the filesystem swaps atomically
    * (the SnapshotStore control-file discipline), and — because these
    * files are ADVISORY, so object stores keep the plain-overwrite
    * fallback — the JSON closes with an `"eof":true` sentinel that any
    * truncation drops. `fields` must NOT include the sentinel. */
  private def writeCalFile(spark: SparkSession, path: String, name: String,
                           fields: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, name)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val body = s"""{$fields,"eof":true}"""
    graft.sinks.SnapshotStore.replaceSmallFilePreferAtomic(fs, path, name,
      body)
  }

  /** Read a [[writeCalFile]] artifact, returning None unless the
    * completeness sentinel survived — a torn write (truncated digits
    * included, e.g. factor 64 torn to a parseable 6) is treated as
    * uncalibrated, not silently installed. Pre-sentinel legacy files
    * also read as None: recalibrating is cheap, a wrong width is not. */
  private def readCompleteCalFile(spark: SparkSession, path: String,
                                  name: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(path, name)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      if (""""eof"\s*:\s*true\s*\}\s*$""".r.findFirstIn(text).isDefined)
        Some(text)
      else None
    }
  }

  /** Generation marker: a fresh uuid written by every mutation that
    * REPLACES the quantizer/codebooks or re-encodes the relations
    * (overwrite builds, [[ivfPqMaintain]]'s staged rebuild) — NOT by
    * appends or [[indexDelete]], which keep the standing model valid.
    * Probes snapshot it at entry and re-check after their plan-time
    * reads ([[requireGenerationUnchanged]]): without it, a rebuild that
    * completes ENTIRELY inside the gap between a probe's quantizer load
    * and its data-file listing (fence up and down again, nothing left to
    * observe) would let the probe prune the NEW files with the OLD
    * centroids — silently wrong neighbors. Hidden (dot-prefixed), so it
    * never enters a relation read or the drift gauges' file samples. */
  private val GenerationFile = ".generation"

  private[graft] def readGeneration(spark: SparkSession,
                                    path: String): Option[String] =
    readCompleteCalFile(spark, path, GenerationFile).flatMap(t =>
      """"gen"\s*:\s*"([0-9a-fA-F-]+)"""".r.findFirstMatchIn(t)
        .map(_.group(1)))

  private def writeGeneration(spark: SparkSession, path: String): Unit =
    writeCalFile(spark, path, GenerationFile,
      s""""gen":"${java.util.UUID.randomUUID()}"""")

  /** The post-plan half of the probes' race contract: after a probe has
    * loaded the quantizer/codebooks AND built its data reads (file
    * listings resolved), the index must still be the same GENERATION and
    * unfenced — otherwise the loaded model no longer matches the listed
    * files and pruning would be silently wrong. Loud and retryable, the
    * reader half of [[indexDelete]]'s in-flight-readers contract. A
    * legacy index that predates the marker compares None == None until
    * its first rebuild writes one. */
  private[graft] def requireGenerationUnchanged(spark: SparkSession,
                                                path: String,
                                                gen0: Option[String]): Unit = {
    requireNotRebuilding(spark, path)
    val gen1 = readGeneration(spark, path)
    if (gen0 != gen1) throw new IllegalStateException(
      s"index at $path was rebuilt while this probe was being planned " +
        s"(generation ${gen0.getOrElse("<none>")} -> " +
        s"${gen1.getOrElse("<none>")}): the already-loaded quantizer no " +
        "longer matches the data files — retry the probe")
  }

  /** Hash-ordered bounded self-sample of a relation's vector rows — the
    * recall-calibration query batch of [[ivfPqCalibrate]]. Samples ~4× the
    * needed rows, then cuts to `sampleQueries` under a HASH order: a
    * bare limit() takes the scan's first partitions — the lowest
    * `__cell=` directories of a cell-partitioned index — and a sample
    * concentrated in one corner of the space calibrates a width that is
    * silently too narrow for everyone else (measured: chosen 3 of 44
    * cells, actual recall 0.4 at a 0.9 target, before this order was
    * added). The sort is over the ~4·sampleQueries sampled rows, not
    * the corpus. */
  private def selfQuerySample(rel: DataFrame, vecCol: String,
                              sampleQueries: Int, seed: Long)
      : Array[(Long, org.apache.spark.sql.Row)] = {
    val total = rel.count()
    val fraction = math.min(1.0, sampleQueries * 4.0 / math.max(1L, total))
    rel.select(col(vecCol))
      .sample(withReplacement = false, fraction, seed)
      .sort(xxhash64(col(vecCol)))
      .limit(sampleQueries)
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i.toLong, r) }
  }

  /** The [[selfQuerySample]] rows as a (`__sqid`, vector) query batch. */
  private def queriesFromSample(spark: SparkSession,
                                sampled: Array[(Long, org.apache.spark.sql.Row)],
                                vecField: org.apache.spark.sql.types.StructField,
                                vecCol: String): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(sampled.map { case (i, r) =>
        org.apache.spark.sql.Row(i, r.get(0)) }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("__sqid",
          org.apache.spark.sql.types.LongType),
        vecField.copy(name = vecCol))))

  /** Per-query cell ranking by quantizer distance — driver-side over the
    * in-hand sample and the (nCells-bounded) centroids, in [[rankCells]]'
    * order. */
  private def cellRanks(sampled: Array[(Long, org.apache.spark.sql.Row)],
                        centroids: Array[Array[Double]])
      : Map[Long, Array[Int]] =
    sampled.map { case (qid, r) =>
      val rank = new Array[Int](centroids.length)
      rankCells(doubles(r.getSeq[Any](0)), centroids).zipWithIndex
        .foreach { case (cell, idx) => rank(cell) = idx + 1 }
      qid -> rank
    }.toMap

  /** Exact ground truth for self-sampled calibration queries with the
    * self row DROPPED (rank-(k+1), best removed): self-sampled queries
    * otherwise carry one guaranteed hit per query — cosine 1, its own
    * cell — inflating measured recall by up to 1/k (10% at k=10)
    * relative to held-out queries. Returns (`__sqid`, idCol-as-long)
    * pairs. */
  private def selfTruthPairs(corpus: DataFrame, queries: DataFrame,
                             vecCol: String, idCol: String,
                             k: Int): DataFrame =
    bruteForceTopK(corpus, queries, vecCol, idCol, "__sqid", k + 1)
      .filter(col("rank") > 1)
      .select(col("__sqid"), col(idCol))

  /** Smallest count of truth pairs that must be retrieved to meet
    * `target` plus the one-sided finite-sample margin — the bare
    * empirical quantile undershoots on independent queries about half
    * the time (measured 0.87-0.885 at a 0.9 target with 64 queries
    * before the margin), and a query's k truth pairs are correlated, so
    * the binomial unit is the QUERY count, not the pair count. */
  private def neededCount(target: Double, confidenceZ: Double,
                          nQueries: Int, nPairs: Int): Int =
    math.max(1, math.ceil(math.min(1.0, target +
      confidenceZ * math.sqrt(target * (1.0 - target) /
        math.max(1, nQueries))) * nPairs).toInt)

  // ---------------------------------------------------- recall calibration

  /** Persisted recall calibration (see [[ivfPqCalibrate]]):
    * generation-bound metadata, deleted by every quantizer/codebook refit
    * ([[ivfPqBuild]] overwrite, the [[ivfPqMaintain]] rebuild) — widths
    * tuned against replaced centroids/codebooks are silently
    * miscalibrated. The delete alone cannot close the race where a
    * calibration RUNNING during the refit lands its file after the
    * delete (the calibrator is a reader and deliberately does not take
    * the writer lease), so the artifact is also generation-STAMPED and
    * readers ignore a stamp that does not match the current
    * [[GenerationFile]]. */
  private val PqCalFile = "pqcal.json"

  /** Uncalibrated shortlist width: re-rank `4·k` ADC candidates. */
  private val DefaultShortlistFactor = 4

  /** The persisted width calibration, if the index has been
    * calibrated since its last codebook refit: (nProbe, ADC shortlist
    * factor). Torn or pre-sentinel files read as None (see
    * [[readCompleteCalFile]]), and so does a generation stamp that no
    * longer matches the index — the
    * stale-calibration-landed-after-a-rebuild race [[PqCalFile]]
    * documents. */
  def calibratedPqWidths(spark: SparkSession,
                         path: String): Option[(Int, Int)] =
    calibratedPqWidthsAt(spark, path, readGeneration(spark, path))

  /** [[calibratedPqWidths]] against an ALREADY-READ generation — the
    * probe path's form: probes snapshot the generation once at entry and
    * re-check it post-plan, so the calibration read must not add a third
    * read of the same small file per query batch. */
  private[graft] def calibratedPqWidthsAt(spark: SparkSession, path: String,
                                          gen: Option[String])
      : Option[(Int, Int)] =
    readCompleteCalFile(spark, path, PqCalFile)
      .filter(calStampMatches(_, gen))
      .flatMap { text =>
        for {
          np <- """"nprobe"\s*:\s*(\d+)""".r.findFirstMatchIn(text)
            .map(_.group(1).toInt)
          f <- """"shortlist_factor"\s*:\s*(\d+)""".r.findFirstMatchIn(text)
            .map(_.group(1).toInt)
        } yield (np, f)
      }

  private def writePqCal(spark: SparkSession, path: String, nProbe: Int,
                         factor: Int, target: Double, measured: Double,
                         k: Int, nQueries: Int, cells: Int,
                         gen: Option[String]): Unit =
    writeCalFile(spark, path, PqCalFile,
      s""""nprobe":$nProbe,"shortlist_factor":$factor,""" +
        s""""target":$target,"measured_recall":$measured,"k":$k,""" +
        s""""sample_queries":$nQueries,"cells":$cells,""" +
        s""""gen":"${gen.getOrElse("none")}"""")

  /** Calibrate BOTH probe widths of an [[ivfPqBuild]] index — `nProbe`
    * (cells scanned) and the ADC `shortlistFactor` (candidates re-ranked)
    * — to a recall target, and persist them to `<path>/pqcal.json` as
    * [[ivfPqProbeTopK]]'s defaults, replacing a table-and-judgment step
    * with a measurement. Recall is lost at two stages (the true
    * neighbor's cell not probed; its ADC rank beyond the shortlist).
    * Recalibrate after drift, or rely on [[ivfPqMaintain]]'s
    * `recallTarget` to re-check after a rebuild.
    *
    * ONE bounded measurement covers the whole 2-D width plane: exact
    * ground truth (one scan), each truth pair's cell rank (driver-side
    * vs the tiny centroids), and its ADC competitor counts grouped BY
    * CORPUS CELL (one narrow codes-column scan, ≤ Q·k·nCells grouped
    * rows) — a pair is retrieved at (P, S) iff its cell ranks ≤ P among
    * the query's centroid distances AND 1 + its competitors in cells
    * ranked ≤ P is ≤ S, so every (P, S) evaluates driver-side without
    * re-scanning. Chooses the smallest `nProbe` admitting a within-cap
    * shortlist at the target (probe width dominates cost: the scanned
    * fraction is ≈ nProbe/nCells; the shortlist only sizes the re-rank
    * join's fan-in), then the smallest such shortlist. Falls back to
    * (nCells, `maxShortlistFactor`) when even full probing cannot meet
    * the target under the cap, with the shortfall recorded in the
    * artifact's `measured_recall` (the shortlist factor sizes the
    * re-rank join's Q·factor·k fan-in, and an unreachable target must
    * not silently turn every probe into a near-full re-rank).
    *
    * The measured curve is the SAMPLE's: `sampleQueries` rows drawn from
    * the index itself ([[selfQuerySample]]), with each query's own row
    * dropped from its truth ([[selfTruthPairs]]). Recall on future query
    * batches matches it insofar as they resemble the corpus distribution
    * (the standard self-calibration assumption). The one-sided
    * `confidenceZ` margin ([[neededCount]]) defaults to z = 2: ADC rank
    * quality varies with the codebook DRAW and splits by query REGIME on
    * mixed corpora — measured per-regime external recall spread ±0.05
    * around the on-sample number across k-means draws (SCALEPROBE
    * `pq_drift`) — so external batches land AT or above the stated
    * target instead of distributed around it. Returns the chosen
    * (nProbe, shortlistFactor); uncalibrated defaults, persisting
    * nothing, on an empty or all-zero-vector index. */
  def ivfPqCalibrate(spark: SparkSession, path: String, vecCol: String,
                     idCol: String, target: Double, k: Int = 10,
                     sampleQueries: Int = 64, seed: Long = 42L,
                     confidenceZ: Double = 2.0,
                     maxShortlistFactor: Int = 64): (Int, Int) = {
    require(target > 0.0 && target <= 1.0,
      s"recall target must be in (0, 1], got $target")
    require(confidenceZ >= 0.0, "confidenceZ must be >= 0")
    require(maxShortlistFactor >= 1, "maxShortlistFactor must be >= 1")
    requireIndex(spark, path)
    // generation snapshot BEFORE any model/data read: the persisted
    // artifact carries it, and readers ignore a stamp that no longer
    // matches — so a rebuild completing anywhere during this measurement
    // can never leave stale widths silently in force
    val gen0 = readGeneration(spark, path)
    val handle = cachedModel(spark, path, gen0)
    val (centroids, model) = quantizers(spark, path, handle)
    val nCells = centroids.length
    val data = readData(spark, path, handle.map(_.dataSchema))
    val uncalibrated = (math.max(1, nCells / 8), DefaultShortlistFactor)
    val sampled = selfQuerySample(data, vecCol, sampleQueries, seed)
    if (sampled.isEmpty) return uncalibrated
    val queries = queriesFromSample(spark, sampled, data.schema(vecCol),
      vecCol)
    val truth = selfTruthPairs(data.select(col(idCol), col(vecCol)),
      queries, vecCol, idCol, k).localCheckpoint(true)
    val q = withQueryNorm(queries, Seq(idCol), "__sqid", vecCol)
    val narrow = data.select(col(idCol), col("__cell"), col("__codes"),
      col("__cn"))
    val truthIds = truth.select(col(idCol)).distinct()
    // thresholds carry the truth row's own ADC score AND its cell
    val thresholds = adcScored(narrow.join(broadcast(truthIds),
        Seq(idCol)), q, model, Seq.empty)
      .join(broadcast(truth), Seq("__sqid", idCol))
      .filter(col("cosine").isNotNull)
      .select(col("__sqid"), col(idCol).cast("long").as("__tid"),
        col("cosine").as("__tcos"), col("__cell").cast("int").as("__tcell"))
      .localCheckpoint(true)
    val pairsArr = thresholds.select("__sqid", "__tid", "__tcell")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    if (pairsArr.isEmpty) return uncalibrated
    // competitor counts PER CORPUS CELL — the cell→probe-rank translation
    // happens driver-side, so any (nProbe, shortlist) pair is evaluable
    // without re-scanning
    val perCell = adcScored(narrow, q, model, Seq.empty)
      .join(broadcast(thresholds.drop("__tcell")), Seq("__sqid"))
      .filter(col("cosine").isNotNull &&
        (col("cosine") > col("__tcos") ||
          (col("cosine") === col("__tcos") &&
            col(idCol).cast("long") < col("__tid"))))
      .groupBy(col("__sqid"), col("__tid"),
        col("__cell").cast("int").as("__ccell"))
      .agg(count(lit(1)).as("__ahead"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getInt(2), r.getLong(3))))
      .groupBy(_._1)
    val cellRank = cellRanks(sampled, centroids)
    // per-pair: the truth cell's rank, and cumulative competitors over
    // cells ranked ≤ p (so cum(p)+1 is the truth's shortlist rank at
    // probe width p)
    val curves = pairsArr.map { case (sq, tid, tcell) =>
      val rankArr = cellRank(sq)
      val cum = new Array[Long](nCells + 1)
      perCell.getOrElse((sq, tid), Array.empty)
        .foreach { case (_, (ccell, n)) => cum(rankArr(ccell)) += n }
      var p = 1
      while (p <= nCells) { cum(p) += cum(p - 1); p += 1 }
      (rankArr(tcell), cum)
    }
    val nQ = pairsArr.map(_._1).distinct.length
    val need = neededCount(target, confidenceZ, nQ, curves.length)
    var chosen: Option[(Int, Long)] = None
    var p = 1
    while (p <= nCells && chosen.isEmpty) {
      val feas = curves.collect {
        case (tcr, cum) if tcr <= p => cum(p) + 1
      }.sorted
      if (feas.length >= need &&
          feas(need - 1) <= maxShortlistFactor.toLong * k)
        chosen = Some((p, feas(need - 1)))
      p += 1
    }
    val (nProbe, wantK) =
      chosen.getOrElse((nCells, maxShortlistFactor.toLong * k))
    val factor = math.min(maxShortlistFactor.toLong,
      math.max(1L, (wantK + k - 1) / k)).toInt
    val measured = curves.count { case (tcr, cum) =>
      tcr <= nProbe && cum(nProbe) + 1 <= factor.toLong * k
    }.toDouble / curves.length
    writePqCal(spark, path, nProbe, factor, target, measured, k,
      sampled.length, nCells, gen0)
    (nProbe, factor)
  }

  /** Readers AND routine writers call this before opening a persisted
    * index: a present marker means a swap crashed midway (or an
    * overwrite build died half-written) and the relations may be MIXED
    * generations — probing would return silently wrong neighbors, and
    * appending would extend the wrong generation, so fail loudly
    * instead. */
  private def requireNotRebuilding(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path, RebuildMarker)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) throw new IllegalStateException(
      s"index at $path is marked $RebuildMarker: a swap (ivfPqMaintain " +
        "rebuild or indexDelete) or an ivfPqBuild overwrite did not " +
        "complete; restore the relations from the .old/.staging halves, " +
        "or rebuild from source — a completed ivfPqBuild rewrites every " +
        "relation and lifts the fence itself")
  }

  /** The relations [[ivfPqBuild]] writes — the signature every other
    * entry point checks before it reads or writes anything. */
  private val IndexRelations = Seq("data", "centroids", "codebooks")

  /** Every entry point that opens an existing index calls this first:
    * the fence check ([[requireNotRebuilding]]), then the layout check —
    * a directory without the IVF-PQ relations is refused before any
    * relation read, lease marker or write. That covers a typo'd path and
    * the retired flat-PQ (`codes/` + `vectors/`) and plain-IVF (`data/`
    * + `centroids/` without `codebooks/`) layouts, whose relations these
    * paths would otherwise misread or silently drop. */
  private def requireIndex(spark: SparkSession, path: String): Unit = {
    requireNotRebuilding(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val missing = IndexRelations.filterNot(r =>
      fs.exists(new org.apache.hadoop.fs.Path(root, r)))
    require(missing.isEmpty,
      s"no IVF-PQ index at $path: missing ${missing.mkString("/, ")}/ " +
        s"(an IVF-PQ index holds ${IndexRelations.mkString("/, ")}/). " +
        "Flat-PQ (codes/ + vectors/) and plain-IVF (data/ + centroids/ " +
        "without codebooks/) indexes are no longer served: rebuild them " +
        "from source with ivfPqBuild")
  }

  /** LSH-bucketed approximate top-k: corpus and queries are assigned
    * sign-projection cells; queries probe their own cell and every cell
    * within Hamming distance `probeHamming` of it (multi-probe LSH — the
    * standard recall lever that reuses one table instead of building
    * more). `probes` caps how many of the 1-bit flips participate (legacy
    * knob); the probed-cell count is 1 + C(planes,1) + … up to the
    * hamming radius, so the scored fraction grows combinatorially —
    * radius 2 on 8 planes probes 37/256 ≈ 14% of the corpus. Same output
    * shape as [[bruteForceTopK]]; recall < 1 by construction. */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              vecCol: String, idCol: String, queryIdCol: String,
              k: Int, nPlanes: Int = 8, dim: Int = 64,
              probes: Int = 8, probeHamming: Int = 1): DataFrame = {
    require(probeHamming >= 1 && probeHamming <= 3,
      "probeHamming must be in [1, 3] — beyond 3 the probe set approaches " +
        "the full cell space; use bruteForceTopK instead")
    val planes = V.hyperplanes(nPlanes, dim)
    val c = corpus
      .withColumn("__cell", V.signBucket(col(vecCol), planes))
      .withColumn("__cn", V.norm(col(vecCol)))
    // query probes: own cell + every XOR mask of weight <= probeHamming
    // over the first `probes` planes (masks are a tiny driver-side list —
    // at most C(planes, <=3) literals — broadcast with the query batch)
    val bits = 0 until math.min(probes, nPlanes)
    val masks = Seq(0L) ++
      bits.map(i => 1L << i) ++
      (if (probeHamming >= 2)
        for (i <- bits; j <- bits if i < j) yield (1L << i) | (1L << j)
      else Seq.empty) ++
      (if (probeHamming >= 3)
        for (i <- bits; j <- bits; l <- bits if i < j && j < l)
          yield (1L << i) | (1L << j) | (1L << l)
      else Seq.empty)
    val probeCells = array(masks.map(lit): _*)
    val q = withQueryNorm(queries, corpus.columns, queryIdCol, vecCol)
      .withColumn("__qcell", V.signBucket(col("__qvec"), planes))
      .withColumn("__cell", explode(transform(probeCells,
        flip => col("__qcell").bitwiseXOR(flip))))
      .drop("__qcell")
    val scored = c
      .join(broadcast(q), Seq("__cell"))
      .withColumn("cosine", exactCosine(vecCol))
    rankTopK(scored, queryIdCol, idCol, k)
  }

  // ------------------------------------------------------------ kNN graph

  /** Approximate k-nearest-neighbor SELF-join: every corpus row gets its
    * top-k most-cosine-similar OTHER rows — the kNN graph that
    * cluster-prune dedup ([[graft.operators.Dedup.semanticDedup]]),
    * diversity selection, and graph-based propagation consume.
    *
    * The shape is deliberately NOT `ivfTopK(corpus, queries = corpus)`:
    * that broadcasts the query batch, which for a self-join means
    * broadcasting the whole corpus. Here BOTH sides shuffle on a k-means
    * cell key — the same bounded-sample quantizer as IVF
    * ([[fitCentroids]]), fit over DIRECTIONS ([[unitized]], the
    * cosine-compatible geometry) — and edges form within a cell only: the
    * exchange carries (cell, id, vector) once per candidate row and
    * `nProbe` times per query row, never a pairwise relation, and the
    * per-query top-k is the bounded map-side [[TopKAggregator]]. Expected
    * scored volume is ~nProbe · n²/nCells ≈ n·√n·nProbe at the ~√n
    * [[autoCells]] default — the published cluster-prune cost model
    * (SemDeDup, arXiv:2303.09540 §3), not the n² of a brute-force graph.
    *
    * Approximation: a true neighbor outside every probed cell of its
    * query is missed — recall < 1 by construction; returned cosines are
    * EXACT (same verify arithmetic as [[bruteForceTopK]]). `nProbe`
    * (default 1, the cluster-prune regime) trades recall for scored
    * volume. Cells larger than `maxCell` are dropped from the CANDIDATE
    * side (the fan-out guard every bucketed pair operator here carries;
    * their members still act as queries against other probed cells).
    * Zero vectors have no direction and are excluded from both sides.
    * Requires integral ids; returns (query_id, idCol, cosine, rank),
    * ties by id ascending. */
  def knnJoin(corpus: DataFrame, vecCol: String, idCol: String, k: Int,
              nCells: Int = 0, nProbe: Int = 1, seed: Long = 42L,
              maxCell: Int = 100000, fitSampleFraction: Double = 0.0,
              fitSampleRows: Int = 4096): DataFrame = {
    require(idCol != "query_id",
      "idCol must not be named query_id — the self-join needs both roles")
    // NOT persisted, although three consumers read it (sizing count, fit
    // sample, cell assignment): r22 A/B'd the semanticDedupPairs persist
    // pattern here and it measured ~2× SLOWER steady-state (`Dev profile`
    // knn_join 5-pass action 0.9–1.5 s → 2.5–3.3 s) — columnar-caching
    // the float vector + double __unit array columns costs more to write
    // and re-read than recomputing the codegen'd norm/normalize from the
    // scan. The trade flips only when the UPSTREAM pipeline is expensive
    // (semanticDedup's quality-filtered joins), which is exactly where
    // the pattern stays.
    val unit = unitized(corpus, vecCol, idCol)
    val known = unit.count()
    val cells = if (nCells > 0) nCells else autoCells(known)
    val centroids = fitCentroids(unit.select(col("__unit")), "__unit", cells,
      seed, fitSampleFraction, fitSampleRows, knownRows = known)
    // assignment is nCells generated dot products per row and feeds three
    // consumers (size guard, candidate side, query side) — compute it once
    val assigned = unit.withColumn("__cell",
        nearestCell(col("__unit"), centroids))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.CacheAutoRelease.afterFirstUse(assigned)
    // candidate side: home cell only, oversized cells dropped (the cell
    // ids are at most nCells rows — broadcast is trivially safe)
    val bigCells = assigned.groupBy("__cell")
      .agg(count(lit(1)).as("__n")).filter(col("__n") > maxCell)
      .select("__cell")
    val cand = assigned
      .join(broadcast(bigCells), Seq("__cell"), "left_anti")
      .select(col("__cell"), col(idCol).as("__nid"),
        col(vecCol).as("__nvec"), col("__nrm").as("__nn"))
    // query side: the nProbe nearest cells, exploded to one row per probe
    // (nProbe = 1 probes exactly the home cell — reuse the assignment
    // instead of re-ranking all nCells distances per row)
    val q =
      if (nProbe <= 1)
        assigned.select(col("__cell"), col(idCol).as("query_id"),
          col(vecCol).as("__qvec"), col("__nrm").as("__qn"))
      else assigned
        .withColumn("__probe", slice(
          array_sort(cellDistStructs(col("__unit"), centroids)), 1, nProbe))
        .select(explode(col("__probe.cell")).as("__cell"),
          col(idCol).as("query_id"), col(vecCol).as("__qvec"),
          col("__nrm").as("__qn"))
    val scored = q.join(cand, Seq("__cell"))
      .filter(col("query_id") =!= col("__nid"))
      .withColumn("cosine", V.cosineGivenNorms(
        col("__qvec"), col("__nvec"), col("__qn"), col("__nn")))
      .withColumnRenamed("__nid", idCol)
    rankTopK(scored, "query_id", idCol, k)
  }

  // ------------------------------------------------------------------- PQ

  /** Product-quantization model: `m` subspaces of `dsub` dims each, one
    * `ksub`-entry codebook per subspace (`codebooks(j)(c)` is sub-centroid
    * `c` of subspace `j`). Fit on a bounded driver-side sample like the
    * IVF coarse quantizer; tiny (m·ksub·dsub doubles) and broadcast as
    * literals into the encode/score expressions. */
  final case class PqModel(m: Int, dsub: Int,
                           codebooks: Array[Array[Array[Double]]]) {
    def ksub: Int = codebooks(0).length
    def dim: Int = m * dsub
  }

  /** Fit a PQ codebook set: one bounded sample collect (shared across all
    * subspaces — constant driver work regardless of corpus size), then an
    * independent in-memory k-means per subspace over the sample's
    * subvectors. Deterministic for a fixed seed. `ksub` is capped by the
    * sample size per the usual k-means constraint; 16 (4-bit codes) or
    * 256 (8-bit codes) are the standard choices — at 100 TB the encoded
    * corpus is m bytes + a norm per vector instead of dim floats, the
    * compression that makes exhaustive ADC scans affordable. */
  def fitPq(corpus: DataFrame, vecCol: String, m: Int = 8, ksub: Int = 16,
            seed: Long = 42L, fitSampleRows: Int = 4096): PqModel =
    fitPqWithSample(corpus, vecCol, m, ksub, seed, fitSampleRows)._1

  /** [[fitPq]] plus the fit sample it trained on — the builds use the
    * sample once more to record the BUILD-TIME mean quantization error
    * (the codebook-drift gauge's baseline) without a second collect. */
  private def fitPqWithSample(corpus: DataFrame, vecCol: String, m: Int,
                              ksub: Int, seed: Long, fitSampleRows: Int)
      : (PqModel, Array[Array[Double]]) = {
    val sample = fitSample(corpus, vecCol, targetRows =
      math.max(fitSampleRows, 32 * ksub), seed)
    val dim = sample(0).length
    require(dim % m == 0, s"vector dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val codebooks = Array.tabulate(m) { j =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub))
      // subspace-distinct seed: identical per-subspace data (e.g. tiled
      // vectors) must not yield identical codebooks by seeding accident
      kmeansLocal(sub, ksub, seed + j)
    }
    (PqModel(m, dsub, codebooks), sample)
  }

  /** Mean PQ quantization error of `points` under `model`: the mean over
    * rows of Σ_j min_c ‖sub_j − codebook_j(c)‖² — exactly the quantity
    * [[pqEncode]] minimizes per subspace, so it measures how well the
    * FROZEN codebooks still fit a distribution. Driver-side over a
    * bounded sample (|points|·m·ksub·dsub flops — trivial at the 4096-row
    * gauge sizes). */
  private[graft] def meanQuantizationError(points: Array[Array[Double]],
                                           model: PqModel): Double = {
    require(points.nonEmpty, "cannot gauge an empty sample")
    var total = 0.0
    points.foreach { v =>
      require(v.length == model.dim,
        s"vector dim ${v.length} != model dim ${model.dim}")
      var j = 0
      while (j < model.m) {
        val off = j * model.dsub
        var best = Double.MaxValue
        val book = model.codebooks(j)
        var c = 0
        while (c < book.length) {
          val cb = book(c)
          var d = 0.0
          var i = 0
          while (i < model.dsub) {
            val t = v(off + i) - cb(i); d += t * t; i += 1
          }
          if (d < best) best = d
          c += 1
        }
        total += best
        j += 1
      }
    }
    total / points.length
  }

  /** Bounded fit sample shared by [[fitPq]] (and shaped like
    * [[fitCentroids]]'s auto path): ~`targetRows` vectors collected once. */
  private def fitSample(corpus: DataFrame, vecCol: String,
                        targetRows: Int, seed: Long): Array[Array[Double]] = {
    val points = fitSampleRaw(corpus, vecCol, targetRows, seed)
    require(points.nonEmpty, "cannot fit a quantizer on an empty corpus")
    points
  }

  /** [[fitSample]] without the non-empty requirement — the drift GAUGES
    * use this so an emptied-out relation (e.g. a corpus fully drained by
    * opt-out deletes) reads as "nothing to gauge" instead of crashing the
    * nightly maintenance. */
  private def fitSampleRaw(corpus: DataFrame, vecCol: String,
                           targetRows: Int, seed: Long): Array[Array[Double]] = {
    val vecs = corpus.select(V.toDouble(col(vecCol)).as("__v"))
    val n = vecs.count()
    val sampled =
      if (n <= targetRows) vecs
      else vecs.sample(withReplacement = false,
        math.min(1.0, targetRows.toDouble * 1.1 / n), seed).limit(targetRows)
    sampled.collect().map(_.getSeq[Double](0).toArray)
  }

  /** Scan-side PQ encode: appends `codesCol` (array<int>, one nearest
    * sub-centroid id per subspace) and `normCol` (exact vector norm, kept
    * full-precision so re-ranked cosines stay exact). One generated
    * projection of m·ksub dsub-dim distance computations per row — the
    * same codegen shape as IVF cell assignment. The output minus the raw
    * vector column IS the compressed corpus: persist it once and ADC
    * scans never touch the original floats. */
  def pqEncode(df: DataFrame, vecCol: String, model: PqModel,
               codesCol: String = "__codes",
               normCol: String = "__cn"): DataFrame = {
    // per-subspace NATIVE fused argmin (the same NearestCellExpr kernel
    // cell assignment uses): identical distances (cNorm² − 2·dot, same
    // left-to-right f64 accumulation) and identical lowest-code tie rule
    // as the previous sorted-struct-array form, with zero per-candidate
    // struct/array allocation and the loop compiled into the enclosing
    // whole-stage method — the encode projection was the dominant cost of
    // the inline PQ paths (guide §1.2 step 2: per-task work)
    val codes = array((0 until model.m).map { j =>
      val sub = slice(col(vecCol), j * model.dsub + 1, model.dsub)
      graft.functions.VectorExpressions.nearestCell(sub, model.codebooks(j))
    }: _*)
    df.withColumn(codesCol, codes)
      .withColumn(normCol, V.norm(col(vecCol)))
  }

  /** PQ-ADC approximate top-k with exact re-ranking — the third ANN path
    * (FAISS's `IndexPQ` regime re-expressed as two Spark scans):
    *
    *  1. ADC scan: queries (tiny, broadcast) carry one lookup table per
    *     subspace — LUT(j)(c) = q_j · codebook(j)(c), built as literal-
    *     array expressions. Each corpus row is scored as
    *     Σ_j LUT(j)(code_j): m array lookups instead of a dim-wide dot
    *     product, over codes that at scale live in a persisted encoded
    *     corpus ([[pqEncode]]) m·log2(ksub) bits wide instead of dim
    *     floats — the reason exhaustive scans stay affordable at 100 TB.
    *     The bounded [[TopKAggregator]] keeps a `shortlistFactor`·k
    *     shortlist per query (map-side partials; the exchange carries at
    *     most shortlist·partitions candidates per query).
    *  2. Exact re-rank: the shortlist (Q·shortlist ids, tiny) broadcast-
    *     joins back into the corpus, exact cosine is computed for matched
    *     rows only, and the final k are ranked on EXACT scores — returned
    *     cosines are never approximate (the engine-wide contract); only
    *     recall is, bounded by what the shortlist caught.
    *
    * Same output shape as [[bruteForceTopK]]; deterministic for a fixed
    * seed. Recall rises with `shortlistFactor` (re-rank cost: the second
    * scan's join fan-in) and with `ksub` (encode cost).
    *
    * MEASURED (SCALEPROBE.json `pq_crossover`, 64-dim vectors, 20-query
    * batches, amortized encode, local[32] page-cached, at 20k / 100k /
    * 1M / 4.1M vectors): brute force with the codegen'd dot wins every
    * compute-bound size up to ~1M (0.4–1.2s); at 4.1M it and ADC sit
    * within run-to-run noise of each other (4.6–6.0s across runs) while
    * amortized partition-pruned IVF overtakes both outright (4.2s).
    * Local page-cached numbers show only COMPUTE, where an m-add table
    * loop and a 64-mult compiled dot are close; the ADC path's real
    * advantage is bytes scanned, now MEASURED (SCALEPROBE.json
    * `pq_bytes`, same 1M-vector corpus): the persisted codes relation
    * is 15.6 bytes/row on disk vs the vector relation's 158.3 — a
    * 10.2× narrower exhaustive scan (plan-verified to touch no vector
    * column), which pays exactly at the storage-bandwidth-bound 100 TB
    * scales a local page-cached probe cannot reproduce. The probe also
    * records the caveat: the exact re-rank leg re-reads the vector
    * relation, so THIS inline form's full path pays a second full scan.
    * The persisted [[ivfPqBuild]] index removes both scans' breadth:
    * [[ivfPqProbeTopK]] reads only the probed cells' files, the codes
    * column for the ADC leg and the vectors for the shortlist. Prefer
    * the persisted index for repeated query batches at scale; this
    * inline form is the zero-setup path. */
  def pqTopK(corpus: DataFrame, queries: DataFrame,
             vecCol: String, idCol: String, queryIdCol: String,
             k: Int, m: Int = 8, ksub: Int = 16, shortlistFactor: Int = 4,
             seed: Long = 42L, fitSampleRows: Int = 4096): DataFrame = {
    val model = fitPq(corpus, vecCol, m, ksub, seed, fitSampleRows)
    // the ADC scan reads ONLY (id, codes, norm) — never the raw floats;
    // with a persisted encoded corpus this is the m-bytes-per-vector scan
    val encoded = pqEncode(corpus.select(col(idCol), col(vecCol)),
      vecCol, model).drop(vecCol)
    pqTopKEncoded(encoded, corpus, model, queries, vecCol, idCol,
      queryIdCol, k, shortlistFactor)
  }

  /** [[pqTopK]]'s amortized form: score a PRE-ENCODED corpus (the
    * [[pqEncode]] output minus the raw vector column, typically persisted
    * once and scanned per query batch — fit + encode are paid once, like
    * [[ivfPqBuild]]). `corpus` supplies the raw vectors for the exact
    * re-rank scan only. */
  def pqTopKEncoded(encoded: DataFrame, corpus: DataFrame, model: PqModel,
                    queries: DataFrame, vecCol: String, idCol: String,
                    queryIdCol: String, k: Int,
                    shortlistFactor: Int = 4): DataFrame = {
    require(shortlistFactor >= 1, "shortlistFactor must be >= 1")
    val shortlist = pqAdcShortlist(encoded, corpus.columns, model, queries,
      vecCol, idCol, queryIdCol, k * shortlistFactor)
    // exact re-rank: shortlist ids broadcast back into the corpus — one
    // more corpus scan, fan-in bounded by Q·shortlist rows
    exactRerank(corpus.withColumn("__cn", V.norm(col(vecCol))), shortlist,
      withQueryNorm(queries, corpus.columns, queryIdCol, vecCol),
      vecCol, idCol, queryIdCol, k)
  }

  /** Codebook-drift report for a persisted PQ-coded index: `fitMqe` is
    * the build-time mean quantization error (recorded by the build from
    * its own fit sample), `currentMqe` the same statistic over a fresh
    * bounded sample of the corpus AS STORED TODAY under the FROZEN
    * codebooks. `ratio` ≈ 1 right after a build; appended mass from a
    * shifted distribution quantizes worse, the ratio grows, and with it
    * the ADC shortlist's score error — hence recall — degrades, SILENTLY
    * (the exact re-rank keeps returned scores exact, so nothing else
    * fails loudly). [[ivfPqMaintain]] rebuilds past a ratio threshold. */
  final case class PqDriftStats(fitMqe: Double, currentMqe: Double) {
    def ratio: Double =
      if (fitMqe > 0) currentMqe / fitMqe
      else if (currentMqe == 0) 1.0
      else Double.PositiveInfinity
  }

  /** Build-time MQE baseline from an index's `meta/` relation; loud on
    * indexes built before the gauge existed. */
  private def readFitMqe(spark: SparkSession, path: String): Double = {
    val p = new org.apache.hadoop.fs.Path(path, "meta")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(p),
      s"index at $path predates the codebook-drift gauge (no meta/ " +
        "relation); rebuild with ivfPqBuild to record the baseline")
    val meta = spark.read.parquet(s"$path/meta")
    require(meta.columns.contains("fit_mqe"),
      s"index at $path predates the codebook-drift gauge (no fit_mqe " +
        "baseline in meta/); rebuild with ivfPqBuild to record one")
    meta.select(col("fit_mqe")).collect()(0).getDouble(0)
  }

  /** None = nothing to gauge (the relation is empty — e.g. fully drained
    * by opt-out deletes); [[ivfPqMaintain]] treats that as "ok". */
  private def driftFrom(spark: SparkSession, path: String, vecCol: String,
                        seed: Long, sampleRows: Int,
                        sampleFiles: Int): Option[PqDriftStats] = {
    requireIndex(spark, path)
    val model = loadPqModel(spark, path)
    val fit = readFitMqe(spark, path)
    val sample = gaugeSample(spark, s"$path/data", vecCol,
      sampleRows, seed, sampleFiles)
    if (sample.isEmpty) None
    else Some(PqDriftStats(fit, meanQuantizationError(sample, model)))
  }

  /** Visible parquet part files under `dir`, recursively and lazily —
    * what Spark's own directory reads see. Uncommitted write debris is
    * excluded the way Spark excludes it: a path COMPONENT below `dir`
    * that starts with `.`, or with `_` unless it is a partition
    * directory (it contains `=`, e.g. `__cell=3`), disqualifies the file
    * — a crashed append's `_temporary` tree, `_SUCCESS` markers. */
  private def visibleParquetFiles(fs: org.apache.hadoop.fs.FileSystem,
                                  dir: org.apache.hadoop.fs.Path)
      : Iterator[org.apache.hadoop.fs.LocatedFileStatus] = {
    val baseDepth = fs.makeQualified(dir).depth()
    def visible(fp: org.apache.hadoop.fs.Path): Boolean = {
      var q = fp
      while (q != null && q.depth() > baseDepth) {
        val n = q.getName
        if (n.startsWith(".") || (n.startsWith("_") && !n.contains("=")))
          return false
        q = q.getParent
      }
      true
    }
    val it = fs.listFiles(dir, true)
    Iterator.continually(()).takeWhile(_ => it.hasNext).map(_ => it.next())
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet") &&
        visible(st.getPath))
  }

  /** Bounded gauge sample: fit-sample within a deterministic SUBSET of
    * the relation's part files instead of over the whole relation — a
    * full-relation uniform row sample must scan essentially every row
    * group of the (dominant-bytes) vector column just to materialize a
    * few thousand rows, making the nightly "ok" answer cost O(corpus),
    * the exact full-scan-on-the-common-night economy the z-order gauge's
    * bucket sampling exists to avoid. File selection is SIZE-WEIGHTED
    * (Efraimidis–Spirakis order sampling with a hashed-path uniform, so
    * it is deterministic for an index state and re-draws as the file set
    * changes): a file's inclusion probability is proportional to its
    * BYTES ≈ its row share, so a drifted append concentrated in a few
    * LARGE files is near-certainly sampled — uniform per-file selection
    * could permanently exclude it — while a batch whose byte share is
    * negligible is exactly the batch that cannot move the corpus-level
    * MQE ratio this gauge measures. Whole-file (clustered) sampling adds
    * variance a drift-vs-2× threshold easily tolerates. Uncommitted
    * write debris never enters the sample ([[visibleParquetFiles]]).
    * Cost: one driver file
    * listing (O(files) metadata) plus a ≤ `maxFiles`-file read; a
    * relation with ≤ `maxFiles` files reads in full, exactly as before. */
  private def gaugeSample(spark: SparkSession, relDir: String,
                          vecCol: String, sampleRows: Int, seed: Long,
                          maxFiles: Int): Array[Array[Double]] = {
    require(maxFiles >= 1, "sampleFiles must be >= 1")
    val p = new org.apache.hadoop.fs.Path(relDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val files = visibleParquetFiles(fs, p)
      .map(st => (st.getPath.toString, st.getLen)).toSeq
    // an emptied-out relation (e.g. fully drained by opt-out deletes) has
    // nothing to gauge: empty sample, maintain paths degrade to "ok" the
    // way zOrderMaintain does, instead of crashing the nightly run
    if (files.isEmpty) return Array.empty
    val picked =
      if (files.size <= maxFiles) files.map(_._1)
      else files.sortBy { case (f, len) =>
        // Efraimidis–Spirakis key: -ln(u)/w with u from the path hash —
        // smallest keys form a size-weighted sample without replacement
        val h = scala.util.hashing.MurmurHash3.stringHash(f, seed.toInt)
        val u = ((h & 0x7fffffff).toDouble + 1.0) / (Int.MaxValue.toDouble + 2.0)
        (-math.log(u) / math.max(1L, len).toDouble, f)
      }.take(maxFiles).map(_._1)
    fitSampleRaw(spark.read.parquet(picked: _*).select(col(vecCol)),
      vecCol, sampleRows, seed)
  }

  /** ONE driver-side listing of a directory-partitioned relation's root:
    * the `partCol=value` child directories as value → absolute path. The
    * probes previously checked candidate dirs with one `fs.exists` RPC
    * EACH — |touched| serial round trips at object-store latency — where
    * a single `listStatus` of the parent answers every membership
    * question in one call (guide §6: listing is the hidden cost of
    * partitioned reads). Missing root = no dirs, same as all-exists-false. */
  private def partitionDirs(spark: SparkSession, root: String,
                            partCol: String): Map[Int, String] = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(rootPath)) Map.empty
    else fs.listStatus(rootPath).iterator
      .filter(_.isDirectory)
      .flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith(s"$partCol="))
          n.stripPrefix(s"$partCol=").toIntOption
            .map(_ -> st.getPath.toString)
        else None
      }.toMap
  }

  /** Read ONLY the named partition directories of the tree at `root`
    * (guide §6): `basePath` keeps the partition column in the schema so
    * the caller's `isin` filter stays a PartitionFilters entry — the plan
    * contract the specs assert. Above the default 32-path
    * parallel-discovery threshold the listing runs DRIVER-SIDE via a
    * private cloned session with a raised threshold (a |dirs|-task
    * listing job per probe is pure scheduling overhead for a bounded,
    * shortlist-sized path set). With `dirs` empty the full tree is read
    * directly, preserving the callers' empty-input semantics.
    *
    * A subset that holds no visible data file (a drain that deleted
    * every file but left the directories) cannot infer a schema. Only
    * then — every listed directory verified present and file-less — does
    * the read fall back to the full tree, where the caller's `isin`
    * filter prunes to those same empty directories. Every other failure
    * is rethrown, a listed directory that vanished included: a silent
    * full-tree read would turn a listing race or a transient error into
    * a full-corpus scan.
    *
    * With `schema` given (the relation's full schema, partition column
    * included) no read infers one: no schema-inference job, and a drained
    * subset reads as zero rows directly. */
  private[graft] def readPartitionDirs(spark: SparkSession, root: String,
                                       dirs: Seq[String],
                                       schema: Option[StructType] = None)
      : DataFrame = {
    def reader(s: SparkSession) = schema.fold(s.read)(s.read.schema)
    if (dirs.isEmpty) reader(spark).parquet(root)
    else {
      val session =
        if (dirs.size <= 32) spark
        else {
          val cloned = org.apache.spark.sql.graftbridge.Bridge
            .cloneSession(spark)
          cloned.conf.set(
            "spark.sql.sources.parallelPartitionDiscovery.threshold",
            math.max(32, dirs.size).toString)
          cloned
        }
      def drained: Boolean = dirs.forall { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        fs.exists(p) && visibleParquetFiles(fs, p).isEmpty
      }
      try reader(session).option("basePath", root).parquet(dirs: _*)
      catch {
        case _: org.apache.spark.sql.AnalysisException if drained =>
          reader(spark).parquet(root)
      }
    }
  }

  /** The ADC shortlist leg of [[pqTopKEncoded]] alone — (queryId, id)
    * candidates from the codes-only scan, before the exact re-rank.
    * Factored out so the `pq_bytes` probe can meter the leg's scan input
    * bytes separately from the re-rank's. */
  private[graft] def pqAdcShortlist(encoded: DataFrame,
                                    corpusCols: Seq[String], model: PqModel,
                                    queries: DataFrame, vecCol: String,
                                    idCol: String, queryIdCol: String,
                                    shortlistK: Int): DataFrame = {
    val q = withQueryNorm(queries, corpusCols, queryIdCol, vecCol)
    rankTopK(adcScored(encoded, q, model, Seq.empty),
      queryIdCol, idCol, shortlistK)
      .select(col(queryIdCol), col(idCol))
  }

  /** ADC scoring core shared by the PQ paths: broadcast the query batch
    * with one lookup table per subspace (LUT(j)(c) = q_j · codebook(j)(c),
    * literal arrays), join into the encoded relation (`joinCols` empty =
    * every query scores every row; `Seq("__cell")` = cell-restricted for
    * IVF-PQ), and emit approximate `cosine` = ADC-dot / (‖v‖·‖q‖).
    * Zero-norm rows score null and are excluded downstream exactly as in
    * the exact path. `q` must carry `__qvec`/`__qn` ([[withQueryNorm]]). */
  private def adcScored(encoded: DataFrame, q: DataFrame, model: PqModel,
                        joinCols: Seq[String]): DataFrame = {
    val withLut = q.withColumn("__lut", flatLut(model))
    val joined =
      if (joinCols.isEmpty) encoded.join(broadcast(withLut))
      else encoded.join(broadcast(withLut), joinCols)
    joined.withColumn("cosine", adcCosine(model))
  }

  /** A query's ADC lookup table over its `__qvec`: LUT(j)(c) =
    * q_j · codebook(j)(c), as ONE flattened column of m·ksub contiguous
    * doubles instead of m separate array columns. The broadcast join then
    * copies a single contiguous array per scored row, and the per-pair
    * score is one native m-add loop (PqAdcDotExpr) instead of an m-deep
    * element_at tree — measured 5.3s -> sub-second for 20 queries x 100k
    * rows (pq_crossover probe) with bit-identical results (same sub-dots,
    * same left-to-right f64 accumulation order). */
  private def flatLut(model: PqModel) =
    array((0 until model.m).flatMap { j =>
      val qSub = slice(col("__qvec"), j * model.dsub + 1, model.dsub)
      model.codebooks(j).map(c => V.dot(qSub, lit(c)))
    }.toIndexedSeq: _*)

  /** Approximate cosine of a coded row (`__codes`, `__cn`) against a
    * query's `__lut` and `__qn`: ADC-dot / (‖v‖·‖q‖), null for a zero
    * norm on either side. */
  private def adcCosine(model: PqModel) =
    when(col("__cn") > 0 && col("__qn") > 0,
      graft.functions.VectorExpressions.pqAdcDot(
        col("__codes"), col("__lut"), model.ksub) /
        (col("__cn") * col("__qn")))

  // --------------------------------------------------------------- IVF-PQ

  /** IVF-PQ (inline form): the billion-scale composition — a coarse
    * quantizer restricts each query to its `nProbe` nearest cells, PQ-ADC
    * scores only those cells' rows via byte codes, and the bounded
    * shortlist is re-ranked on exact cosines. The scored fraction is
    * ~nProbe/nCells AND each scored row costs m table lookups instead of
    * a dim-wide dot product — the two savings multiply. Returned scores
    * are exact for whatever is retrieved (both approximations lose
    * candidates, never mis-score them). Deterministic for a fixed seed.
    * For the persisted form whose probes are partition-pruned reads of a
    * compressed codes column, see [[ivfPqBuild]]/[[ivfPqProbeTopK]]. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame,
                vecCol: String, idCol: String, queryIdCol: String,
                k: Int, nCells: Int = 0, nProbe: Int = 0,
                m: Int = 8, ksub: Int = 16, shortlistFactor: Int = 4,
                seed: Long = 42L, fitSampleRows: Int = 4096): DataFrame = {
    require(shortlistFactor >= 1, "shortlistFactor must be >= 1")
    val known = if (nCells > 0) -1L else corpus.count()
    val cells = if (nCells > 0) nCells else autoCells(known)
    val probes = if (nProbe > 0) nProbe else math.max(1, cells / 8)
    val centroids = fitCentroids(corpus, vecCol, cells, seed, 0.0,
      fitSampleRows, knownRows = known)
    val model = fitPq(corpus, vecCol, m, ksub, seed, fitSampleRows)
    val encoded = pqEncode(corpus.select(col(idCol), col(vecCol)), vecCol,
        model)
      .withColumn("__cell", nearestCell(col(vecCol), centroids))
      .drop(vecCol)
    val q = withProbeCells(
      withQueryNorm(queries, corpus.columns, queryIdCol, vecCol),
      centroids, probes)
    val shortlist = rankTopK(adcScored(encoded, q, model, Seq("__cell")),
      queryIdCol, idCol, k * shortlistFactor)
      .select(col(queryIdCol), col(idCol))
    exactRerank(corpus.withColumn("__cn", V.norm(col(vecCol))), shortlist,
      withQueryNorm(queries, corpus.columns, queryIdCol, vecCol),
      vecCol, idCol, queryIdCol, k)
  }

  /** Persist the ANN index under `path` — the one persisted index
    * layout (FAISS `IndexIVFPQ`'s shape: a coarse quantizer plus a
    * compressed payload). Fit the coarse quantizer and the PQ codebooks
    * (bounded driver samples), assign every row its cell, and write:
    *
    *  - `data/`: the corpus `partitionBy(__cell)` with the PQ codes and
    *    per-row norms alongside the raw vectors, ONE part file per cell
    *    whatever the input's partitioning ([[writeCells]]; a skewed cell
    *    is written whole by one task). Probes are statically
    *    partition-pruned reads of the probed cells; parquet's columnar
    *    layout means the ADC pass reads ONLY (id, codes, norm) from those
    *    files (column pruning), and the exact re-rank reads the vector
    *    column for just the shortlist, from the same pruned directories.
    *  - `centroids/` and `codebooks/`: the frozen model, as (cell,
    *    centroid) and (subspace, code, centroid) rows.
    *  - `meta/`: the drift and skew baselines [[ivfPqMaintain]] gauges
    *    against.
    *
    * `nCells ≤ 0` (the default) sizes the quantizer as ~√n via
    * [[autoCells]].
    *
    * A build overwrites every relation, so over an EXISTING index it is
    * itself a torn-window writer: it holds the `.rebuilding` fence for
    * the whole write and lifts it on completion. That also makes a
    * completed rebuild-from-source the self-healing recovery for a
    * fenced index — every relation is rewritten from one generation, so
    * the marker (from this build, a crashed swap, or a crashed earlier
    * build) is deleted instead of demanding manual restoration. The build
    * also HOLDS the `.mutating` writer lease (acquire-or-create — a fresh
    * root works): a build racing a live append refuses at acquisition
    * instead of replacing `data/` under the append's in-flight write.
    * Consequently a crashed WRITER'S leftover lease blocks the rebuild
    * too — the refusal quotes the stamped holder (op/time/host/pid);
    * after confirming that writer is dead, delete `.mutating` and rerun,
    * and the completed build self-heals the `.rebuilding` fence as
    * before. */
  def ivfPqBuild(corpus: DataFrame, vecCol: String, path: String,
                 nCells: Int = 0, m: Int = 8, ksub: Int = 16,
                 seed: Long = 42L, fitSampleRows: Int = 4096): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // fail fast (advisory; acquisition below still decides atomically):
    // the auto-sizing count next is a FULL corpus scan at scale, and the
    // two fits follow — none of it may be paid ahead of a certain scheme
    // refusal or a held lease
    buildPrecheck(spark, fs, root, "ivfPqBuild")
    val known = if (nCells > 0) -1L else corpus.count()
    val cells = if (nCells > 0) nCells else autoCells(known)
    val centroids = fitCentroids(corpus, vecCol, cells, seed, 0.0,
      fitSampleRows, knownRows = known)
    val (model, fitPoints) =
      fitPqWithSample(corpus, vecCol, m, ksub, seed, fitSampleRows)
    // build-time baseline for the codebook-drift gauge (ivfPqDriftStats):
    // the mean quantization error of the fit sample under the codebooks
    // just fitted to it. Measured on the TRAINING sample, so it carries
    // k-means' small in-sample optimism — an undrifted gauge reads
    // slightly above 1.0, which maxDrift thresholds >= 1.5 clear safely.
    val fitMqe = meanQuantizationError(fitPoints, model)
    // writer lease held across every write (acquire-or-create): a build
    // racing a live ivfPqAppend must refuse, not replace data/ while the
    // append's write is in flight and silently drop the appended rows
    withMutationLease(spark, fs, root, "ivfPqBuild", createRoot = true) {
      val marker = new org.apache.hadoop.fs.Path(root, RebuildMarker)
      fs.create(marker, true).close()
      // width calibrations tuned against the quantizer+codebooks this
      // build replaces would be silently wrong-generation metadata
      fs.delete(new org.apache.hadoop.fs.Path(root, PqCalFile), false)
      writeCells(pqEncode(corpus, vecCol, model)
        .withColumn("__cell", nearestCell(col(vecCol), centroids)),
        s"$path/data", "overwrite")
      centroids.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toSeq
        .toDF("cell", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
      model.codebooks.zipWithIndex
        .flatMap { case (book, j) =>
          book.zipWithIndex.map { case (c, code) => (j, code, c.toSeq) }
        }.toSeq
        .toDF("subspace", "code", "centroid")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
      // build-time cell-skew baseline alongside the MQE baseline: clustered
      // corpora are "skewed" at birth (max/mean over cells is a DATA
      // property), so ivfPqMaintain's skew trigger must fire on skew GROWTH
      // relative to this equilibrium — an absolute bound would re-fire the
      // rebuild every night on data no quantizer can flatten (observed in
      // the pq_drift probe before this baseline existed)
      val counts = cellCounts(spark, path).collect().map(_.getLong(1))
      val fitSkew =
        if (counts.isEmpty || counts.sum == 0) 1.0
        else counts.max /
          (counts.sum.toDouble / math.max(1, centroids.length))
      Seq((fitMqe, fitSkew)).toDF("fit_mqe", "fit_skew")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
      writeGeneration(spark, path)
      fs.delete(marker, false)
    }
    // a rebuild over an existing index replaces every relation's part
    // files; same-session plans may hold cached file listings naming the
    // deleted ones
    Seq("data", "centroids", "codebooks", "meta").foreach(d =>
      spark.catalog.refreshByPath(s"$path/$d"))
  }

  /** Extend a persisted index in place: new rows are encoded with the
    * STANDING codebooks and assigned with the STANDING centroids —
    * quantizer, codebooks, and existing cells are untouched, so the
    * append writes only new part files into the cell directories, one
    * part file per touched cell ([[writeCells]]; no
    * refit, no rewrite of the standing data: the daily-increment path for
    * an index whose full rebuild is a 100 TB job). `newRows` must carry
    * the schema the index was built from. Codes stay exact FOR THE
    * RETAINED model — what drifts under a shifted distribution is the fit
    * quality of cells and codebooks: watch [[ivfCellStats]] for cell
    * skew and [[ivfPqDriftStats]] for codebook fit, or run
    * [[ivfPqMaintain]] to gauge + rebuild automatically.
    *
    * Concurrency: the fence check refuses a `.rebuilding` index (a
    * crashed swap is never silently extended with whichever model files
    * survived it), and the append HOLDS the `.mutating` writer lease
    * across its model read + data write — a maintain/delete whose
    * staging would silently swap away in-flight appended rows refuses at
    * acquisition, in whichever order the two writers arrive. Visibility
    * to CONCURRENT readers: part files appear whole, the batch does not,
    * so a probe racing an append may score a PREFIX of the batch. It
    * never sees a torn row or mixed model files (the append does not
    * touch them), and any prefix it sees was encoded and assigned with
    * the model the probe ranks, so retrieved neighbors are still exactly
    * scored; if batch atomicity matters, schedule probes around appends
    * (SimilaritySpec pins the prefix-visibility contract). */
  def ivfPqAppend(newRows: DataFrame, vecCol: String, path: String): Unit = {
    val spark = newRows.sparkSession
    requireIndex(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // the lease is HELD across model read + data write, not merely
    // checked at entry: a maintain/delete acquiring it mid-append would
    // stage from a listing missing the in-flight rows and swap them away
    // silently — and a swapped quantizer between the read and the write
    // would file rows under stale cells. Held, both races refuse loudly.
    withMutationLease(spark, fs, root, "ivfPqAppend", AppendLeaseHint) {
      val (centroids, model) = quantizers(spark, path,
        cachedModel(spark, path, readGeneration(spark, path)))
      writeCells(pqEncode(newRows, vecCol, model)
        .withColumn("__cell", nearestCell(col(vecCol), centroids)),
        s"$path/data", "append")
    }
    // same-session probes may hold a cached file listing for the cell
    // directories; drop it so they see the appended part files
    spark.catalog.refreshByPath(s"$path/data")
  }

  /** Build-time cell-skew baseline (`fit_skew`), when the index records
    * one ([[ivfPqBuild]] since it gauged skew); None on older indexes —
    * callers fall back to 1.0, i.e. absolute (uniform-equilibrium) skew
    * units. */
  private def readFitSkew(spark: SparkSession, path: String): Option[Double] = {
    val p = new org.apache.hadoop.fs.Path(path, "meta")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) None
    else {
      val meta = spark.read.parquet(s"$path/meta")
      if (!meta.columns.contains("fit_skew")) None
      else Some(meta.select(col("fit_skew")).collect()(0).getDouble(0))
    }
  }

  /** Codebook-drift gauge for an [[ivfPqBuild]] index — one bounded
    * file-sampled read of the data relation's vector column (never a
    * full scan; see [[gaugeSample]]) plus driver-side arithmetic; see
    * [[PqDriftStats]]. */
  def ivfPqDriftStats(spark: SparkSession, path: String, vecCol: String,
                      seed: Long = 42L, sampleRows: Int = 4096,
                      sampleFiles: Int = 16): PqDriftStats =
    driftFrom(spark, path, vecCol, seed, sampleRows,
      sampleFiles).getOrElse(throw new IllegalStateException(
      s"nothing to gauge at $path: the data relation is empty " +
        "(fully drained corpus) — ivfPqMaintain reports this case as \"ok\""))

  /** Full-health automation for an [[ivfPqBuild]] index — closes the
    * maintenance-doctrine hole [[ivfPqAppend]] documents: appended mass
    * from a shifted distribution quantizes ever worse against the frozen
    * codebooks, degrading ADC shortlist quality (hence recall) gradually
    * and silently; appended mass can ALSO concentrate in few cells
    * (making their probes expensive and recall lopsided) or outgrow the
    * quantizer (the √n cell count for the CURRENT corpus exceeds
    * `maxGrowth` × the stored one, so per-cell scan cost has drifted up
    * by the same factor). All three triggers are watched — codebook
    * drift via [[ivfPqDriftStats]] (bounded sample), cell skew and
    * corpus growth via [[ivfCellStats]]
    * (directory metadata) — because ONE rebuild cures all three: past any
    * bound the index rebuilds from its own stored rows under the staged
    * swap + `.rebuilding` fence, refitting coarse quantizer AND codebooks
    * on the current distribution, re-deriving the cell count for the
    * grown corpus (`autoCells`), re-assigning + re-encoding every row,
    * and recording fresh drift AND skew baselines. Returns `"ok"` or
    * `"rebuilt"` so schedulers can log/alert on the decision.
    *
    * The rebuild stages into `.staging` and swaps under the fence
    * ([[stagedRebuild]]) while holding the writer lease from before the
    * staging read to after the swap, so no append can interleave; probes
    * stay live until the brief swap and fail loudly (retryably) inside
    * it. Any width calibration is dropped BEFORE the rebuild: a crash
    * between the fence lift and a post-swap delete would otherwise leave
    * widths tuned against the replaced model silently in force, while
    * losing it on an unchanged index only degrades probes to the
    * uncalibrated defaults.
    *
    * `maxDrift` is in baseline units: 2.0 means "typical row quantizes
    * 2× worse than at build time". The baseline carries k-means'
    * in-sample optimism (see [[ivfPqBuild]]), so thresholds below ~1.5
    * would fire on healthy indexes.
    *
    * `maxSkew` is in BUILD-TIME units — the trigger fires when max/mean
    * cell skew exceeds `maxSkew` × the recorded `fit_skew` baseline, NOT
    * an absolute bound: clustered corpora are "skewed" at birth (a data
    * property no quantizer can flatten), and an absolute bound would
    * re-fire a full rebuild every night without ever converging (observed
    * in the pq_drift probe before the baseline existed). Because each
    * rebuild records its own equilibrium as the new baseline, the
    * maintain loop converges by construction: the call after a rebuild
    * reads ratio ≈ 1 on every gauge. Indexes built before the baseline
    * fall back to absolute units.
    *
    * `fitSampleRows` budgets the REBUILD's fits;
    * `gaugeSampleRows`/`gaugeSampleFiles` budget the nightly drift gauge
    * — independent knobs (a bigger fit should not silently make every
    * "ok" night read more of the index, and vice versa). An index whose
    * rows have all been deleted reports "ok": nothing to gauge, nothing
    * to rebuild. `recallTarget`: when
    * set, a rebuild is followed by [[ivfPqCalibrate]] at this target
    * (recall@`recallK`), re-deriving BOTH probe widths (`nProbe` and the
    * ADC shortlist factor) against the refitted index — a rebuild
    * restores quantization quality, but the widths that met a recall
    * target on the old corpus may be too narrow for the grown one
    * (measured: SCALEPROBE `pq_drift`). `idCol` names the id column the
    * calibration's ground truth ranks (only used with `recallTarget`). */
  def ivfPqMaintain(spark: SparkSession, path: String, vecCol: String,
                    maxDrift: Double = 2.0, maxSkew: Double = 4.0,
                    maxGrowth: Double = 4.0, seed: Long = 42L,
                    fitSampleRows: Int = 4096, gaugeSampleRows: Int = 4096,
                    gaugeSampleFiles: Int = 16,
                    recallTarget: Option[Double] = None,
                    recallK: Int = 10, idCol: String = "id",
                    maxShortlistFactor: Int = 64): String = {
    require(maxDrift > 1.0, "maxDrift must exceed 1 (1 = freshly fit)")
    require(maxSkew > 1.0, "maxSkew must exceed 1 (1 = perfectly uniform)")
    require(maxGrowth >= 1.0, "maxGrowth must be >= 1")
    val (total, skew, wantCells, nCellsStored) = cellHealth(spark, path)
    // an emptied-out index has nothing to gauge — the drift sample (which
    // cannot draw from zero rows) is skipped
    if (total == 0) return "ok"
    val drift = driftFrom(spark, path, vecCol, seed, gaugeSampleRows,
      gaugeSampleFiles)
    val fitSkew = readFitSkew(spark, path).getOrElse(1.0)
    val healthy = drift.forall(_.ratio <= maxDrift) &&
      skew <= maxSkew * fitSkew && wantCells <= nCellsStored * maxGrowth
    if (healthy) "ok"
    else {
      val model = loadPqModel(spark, path)
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      // writer lease across staging-read + swap (see withMutationLease):
      // an append inside the window would be silently dropped by the
      // swap — appends hold the same lease, so it cannot start here
      withMutationLease(spark, fs, root, "ivfPqMaintain") {
        // calibration dropped BEFORE the rebuild — see the scaladoc
        fs.delete(new org.apache.hadoop.fs.Path(path, PqCalFile), false)
        // original columns only: cell/norm/codes recomputed by the build
        val data = readData(spark, path, cachedModel(spark, path,
            readGeneration(spark, path)).map(_.dataSchema))
          .drop("__cell", "__cn", "__codes")
        stagedRebuild(spark, path,
          Seq("data", "centroids", "codebooks", "meta")) { staging =>
          ivfPqBuild(data, vecCol, staging, nCells = 0, m = model.m,
            ksub = model.ksub, seed = seed, fitSampleRows = fitSampleRows)
        }
      }
      recallTarget.foreach(t => ivfPqCalibrate(spark, path, vecCol, idCol,
        t, k = recallK, seed = seed,
        maxShortlistFactor = maxShortlistFactor))
      "rebuilt"
    }
  }

  /** One-call nightly maintenance for a persisted index — the
    * [[graft.operators.Layout.storeMaintain]] analogue, so a scheduler
    * needs one cron line per index. Runs [[ivfPqMaintain]]'s
    * measured triggers (codebook drift, cell skew, corpus growth) and,
    * past any bound, its staged rebuild. `recallTarget` re-derives both
    * probe widths against the rebuilt index ([[ivfPqCalibrate]]);
    * `gaugeSampleRows`/`gaugeSampleFiles` budget the nightly drift gauge
    * independently of the rebuild's `fitSampleRows`. An index whose rows
    * have been fully drained (e.g. by opt-out deletes) reports "ok".
    *
    * A directory that is not an IVF-PQ index — including the retired
    * flat-PQ and plain-IVF layouts — fails loudly before anything is
    * read or written. Returns `(layout, decision)`, the layout always
    * `"ivf-pq"`. */
  def indexMaintain(spark: SparkSession, path: String, vecCol: String,
                    idCol: String = "id", maxDrift: Double = 2.0,
                    maxSkew: Double = 4.0, maxGrowth: Double = 4.0,
                    recallTarget: Option[Double] = None,
                    seed: Long = 42L,
                    fitSampleRows: Int = 4096,
                    gaugeSampleRows: Int = 4096,
                    gaugeSampleFiles: Int = 16,
                    recallK: Int = 10,
                    maxShortlistFactor: Int = 64): (String, String) =
    ("ivf-pq", ivfPqMaintain(spark, path, vecCol, maxDrift, maxSkew,
      maxGrowth, seed, fitSampleRows, gaugeSampleRows, gaugeSampleFiles,
      recallTarget, recallK, idCol, maxShortlistFactor))

  /** Probe an [[ivfPqBuild]] index: the probed cell set (at most
    * queries × nProbe distinct cells, ranked driver-side — bounded by
    * nCells) is the only part of `data/` the probe lists and reads. Same
    * output shape as [[bruteForceTopK]]; returned cosines are exact.
    *
    * Two serving paths, one answer. The probe lists the probed cells'
    * part files once ([[probePlan]]). When they total at most
    * [[DriverProbeBytes]] and the bytes of each query's probed cells,
    * summed over the queries, are at most [[DriverProbeQueryBytes]], it
    * reads them on the driver with Spark's own parquet reader, scores
    * them there and returns a local relation ([[ProbePlan.onDriver]]): a
    * warm probe then runs no Spark job, in construction or in its action.
    * Otherwise it returns the Spark plan ([[ProbePlan.onSpark]]): the
    * probed cells become a LITERAL partition filter (static partition
    * pruning — verified by plan inspection in SimilaritySpec); the ADC
    * pass projects only (id, codes, norm) — parquet column pruning keeps
    * the raw vectors unread — and the exact re-rank reads the vector
    * column for the broadcast shortlist alone, from the same pruned
    * directories. Both paths evaluate the same Catalyst expressions (the
    * ADC cosine, the exact cosine, the rounding) and rank with
    * [[TopKAggregator]], so they return the same rows, bit for bit
    * (IvfPqProbePlanSpec); a null query or corpus id on a scored pair
    * fails on both. The gate reads the probe's input alone (its probed
    * cells' sizes and the query batch); both bounds are measured
    * (SCALEPROBE.json `probe_gate`, see [[DriverProbeBytes]]).
    *
    * Planning runs no Spark job on a warm index. The query batch is
    * COLLECTED ONCE (it is broadcast anyway, so it must be small; a
    * local batch collects without a job) and each query's cells are
    * ranked on the driver ([[rankCells]]); both legs read those rows, so
    * a nondeterministic `queries` is evaluated exactly once and both legs
    * see the same vectors. The model (centroids, codebooks, `data/`
    * schema) comes from a JVM-wide handle valid for ONE generation of the
    * index: the first probe of a generation reads the relations and
    * stores the handle once its post-plan generation check has passed; a
    * rebuild writes a new generation, so no probe is ever planned with a
    * replaced model. An index without a generation marker is read afresh
    * on every probe.
    *
    * Widths: `nProbe` sets the scanned fraction (~nProbe/nCells) and
    * `shortlistFactor` the re-rank depth (factor·k ADC candidates per
    * query). `0` (the default) reads the widths [[ivfPqCalibrate]]
    * persisted for a recall target — don't guess widths, calibrate —
    * else cells/8 and factor 4: tied to the stored cell count, so a
    * √n-sized index keeps its scanned fraction instead of collapsing
    * recall. Full probe with a shortlist covering the corpus is the
    * exactness baseline (equal to brute force).
    *
    * Racing a concurrent [[indexDelete]]/[[ivfPqMaintain]] swap, on
    * either path: consistent answer or LOUD retryable failure (fence
    * refusal at plan time, a listed file missing mid-read), never silent
    * partial results — see [[indexDelete]]'s in-flight-readers contract
    * (pinned live on both paths in `SimilaritySpec`). The driver path
    * never skips a listed file either. */
  def ivfPqProbeTopK(spark: SparkSession, path: String, queries: DataFrame,
                     vecCol: String, idCol: String, queryIdCol: String,
                     k: Int, nProbe: Int = 0,
                     shortlistFactor: Int = 0): DataFrame =
    probePlan(spark, path, queries, vecCol, idCol, queryIdCol, k, nProbe,
      shortlistFactor).topK

  /** Probed part-file bytes ([[ProbePlan.bytes]]) at or below which
    * [[ivfPqProbeTopK]] may serve on the driver (16 MiB); the
    * query-summed bytes must also be within [[DriverProbeQueryBytes]].
    * MEASURED (SCALEPROBE.json `probe_gate`: warm top-10 probes,
    * shortlist factor 16, of 64-cell indexes of 10 k, 50 k and 200 k 64-d
    * vectors, in batches of 1, 16, 64 and 256 queries, nProbe 1…64,
    * local[4] on a 4-core box). The driver path reads every probed file
    * on one thread and scores each query against its probed cells
    * interpreted; the Spark plan spreads both over the cores for a fixed
    * per-job cost. So the driver's cost has two terms, and each bound
    * caps one. This one caps the single-threaded read: even at small
    * query sums the driver path lost from 21.5 MB of probed files (200 k
    * vectors: 16 queries at nProbe 2, 0.63 s vs 0.62 s; one query at
    * nProbe 32, 25.5 MB, 0.68 s vs 0.48 s), and it won every point up to
    * 13.6 MB within 438 MB summed. No point fell in between;
    * interpolating the one-query series (13.0 MB: 0.28 s vs 0.45 s)
    * puts the crossover near 19 MB, above this bound. It also caps what
    * a probe materializes on the driver. */
  private[graft] val DriverProbeBytes: Long = 16L << 20

  /** Query-summed probed bytes ([[ProbePlan.queryBytes]]) at or below
    * which [[ivfPqProbeTopK]] may serve on the driver (256 MiB), with the
    * probed files within [[DriverProbeBytes]]. This bound caps the
    * scoring, which grows with the query × row pairs. Measured with
    * [[DriverProbeBytes]]: within 16 MiB of probed files the driver path
    * won every point up to 720 MB summed on the 10 k index (256 queries,
    * nProbe 64: 3.23 s vs 5.42 s) and up to 438 MB on the 50 k index (64
    * queries, nProbe 32: 2.45 s vs 2.67 s); there it tied at 877 MB
    * (4.30 s vs 4.36 s) and lost at 872 MB (64 queries probing all
    * 13.6 MB: 3.82 s vs 3.07 s). The bound sits below that crossover with
    * margin: at 219 MB the driver path still won by 18% (50 k, 64
    * queries, nProbe 16: 1.65 s vs 2.02 s). */
  private[graft] val DriverProbeQueryBytes: Long = 256L << 20

  /** Plan one [[ivfPqProbeTopK]]: check the index, resolve the model and
    * the widths, collect the query batch, rank each query's cells and
    * list the probed cells' files — everything both serving paths read.
    * No Spark job runs here on a warm index. */
  private[graft] def probePlan(spark: SparkSession, path: String,
                               queries: DataFrame, vecCol: String,
                               idCol: String, queryIdCol: String, k: Int,
                               nProbe: Int = 0,
                               shortlistFactor: Int = 0): ProbePlan = {
    require(shortlistFactor >= 0,
      "shortlistFactor must be >= 0 (0 = calibrated default)")
    requireIndex(spark, path)
    val gen0 = readGeneration(spark, path)
    // The probed cells are known BEFORE `data/` needs to open (they come
    // from the centroids and the query batch), so the probe opens ONLY
    // the probed `__cell=` directories instead of discovering the whole
    // tree (a full open lists every cell dir per probe; at object-store
    // scale that is cell-count LIST calls for a probe that touches
    // nProbe of them). One driver-side listStatus of `data/` answers
    // existence; on a cold generation the schema comes from a single cell
    // directory (basePath keeps `__cell` a partition column, so the isin
    // filter of the Spark path stays the PartitionFilters entry the plan
    // contract asserts). See [[readPartitionDirs]] for the driver-side
    // listing above 32 dirs.
    val existing = partitionDirs(spark, s"$path/data", "__cell")
    val model = cachedModel(spark, path, gen0).getOrElse {
      val (centroids, pq) = quantizers(spark, path, None)
      IndexModel(centroids, pq, readPartitionDirs(spark, s"$path/data",
        existing.values.take(1).toSeq).schema)
    }
    val centroids = model.centroids
    // lazy: a probe with both widths explicit never reads the cal file
    lazy val cal = calibratedPqWidthsAt(spark, path, gen0)
    val probes =
      if (nProbe > 0) nProbe
      else cal.map(c => math.min(math.max(1, c._1), centroids.length))
        .getOrElse(math.max(1, centroids.length / 8))
    val factor =
      if (shortlistFactor > 0) shortlistFactor
      else cal.map(_._2).getOrElse(DefaultShortlistFactor)
    val qNorm = withQueryNorm(queries, model.dataSchema.fieldNames.toIndexedSeq,
      queryIdCol, vecCol, allowed = Set("__cell", "__cn", "__codes"))
    val qRows = qNorm.collect()
    // refused before either path runs: the Spark plan drops a batch whose
    // ids are ALL null (the re-rank join's inferred not-null filter folds
    // it away) where the driver path fails
    val qid = qNorm.schema.fieldIndex(queryIdCol)
    require(!qRows.exists(_.isNullAt(qid)),
      s"every query needs a non-null $queryIdCol")
    val cellsOf = qRows.map(probeCells(_, centroids, probes))
    val probedCells = cellsOf.flatten.distinct.sorted
    val dirs = probedCells.toIndexedSeq.flatMap(existing.get)
    // no probed cell has a directory: there is nothing to read, and an
    // empty directory list would open the whole tree
    val corpus =
      if (dirs.isEmpty) None
      else Some(readPartitionDirs(spark, s"$path/data", dirs,
        Some(model.dataSchema)))
    // post-plan race check: the model was loaded (or looked up by gen0)
    // and data listed above — a rebuild completing in between would
    // prune the NEW files with the OLD quantizer (see
    // requireGenerationUnchanged)
    requireGenerationUnchanged(spark, path, gen0)
    storeModel(spark, path, gen0, model)
    new ProbePlan(spark, model.pq, qNorm.schema, qRows, cellsOf,
      probedCells.toIndexedSeq, corpus, vecCol, idCol, queryIdCol, k,
      factor)
  }

  /** A planned probe: the collected query batch with each query's probed
    * cells, and the relation over the probed cells' directories (none
    * when no probed cell has one). [[files]] is that relation's one
    * listing; both paths read exactly those files. */
  private[graft] final class ProbePlan private[Similarity] (
      spark: SparkSession, pq: PqModel, qSchema: StructType,
      qRows: Array[Row], cellsOf: Array[Seq[Int]], probedCells: Seq[Int],
      corpus: Option[DataFrame], vecCol: String, idCol: String,
      queryIdCol: String, k: Int, factor: Int) {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.datasources.{FileStatusWithMetadata,
      HadoopFsRelation, LogicalRelation}

    private val relation: Option[HadoopFsRelation] = corpus.map(
      _.queryExecution.analyzed.collectFirst {
        case l: LogicalRelation => l.relation
      }.get.asInstanceOf[HadoopFsRelation])

    /** The probed cells' part files, each with its `__cell` partition
      * value, from the relation's file index: listed once, when the
      * relation opened. */
    private val files: Seq[(InternalRow, FileStatusWithMetadata)] =
      relation.toSeq.flatMap { r =>
        val wanted = probedCells.toSet
        r.location.listFiles(Nil, Nil)
          .filter(d => wanted(d.values.getInt(0)))
          .flatMap(d => d.files.map(d.values -> _))
      }

    /** Bytes of each probed cell's [[files]]. */
    private val cellBytes: Map[Int, Long] =
      files.groupMapReduce(_._1.getInt(0))(_._2.fileStatus.getLen)(_ + _)

    /** Total bytes of [[files]]: what either path reads, and what the
      * driver path holds. */
    def bytes: Long = cellBytes.values.sum

    /** The bytes of each query's probed cells, summed over the queries:
      * the query × row pairs the ADC pass scores, in bytes. */
    def queryBytes: Long =
      cellsOf.iterator.flatMap(_.iterator.map(cellBytes.getOrElse(_, 0L))).sum

    /** The cells whose files the probe reads. */
    def cells: Set[Int] = cellBytes.keySet

    /** Whether [[topK]] serves on the driver. */
    def servedOnDriver: Boolean =
      bytes <= DriverProbeBytes && queryBytes <= DriverProbeQueryBytes

    /** The probe's answer, through the path the gate picks. */
    def topK: DataFrame = if (servedOnDriver) onDriver else onSpark

    /** The Spark plan: ADC over the pruned codes scan, exact re-rank of
      * the broadcast shortlist over the pruned vector scan. */
    def onSpark: DataFrame = corpus.fold(onDriver) { c =>
      val q = localFrame(spark, withCells(qRows, cellsOf),
        qSchema.add("__cell", IntegerType, nullable = false))
      val qExact = localFrame(spark, qRows, qSchema)
      val pruned = c.filter(col("__cell").isin(probedCells: _*))
      // ADC leg: explicit narrow projection — the scan reads no vectors
      val shortlist = rankTopK(
        adcScored(pruned.select(col(idCol), col("__cell"), col("__codes"),
          col("__cn")), q, pq, Seq("__cell")),
        queryIdCol, idCol, k * factor)
        .select(col(queryIdCol), col(idCol))
      exactRerank(pruned, shortlist, qExact, vecCol, idCol, queryIdCol, k)
    }

    /** The same answer computed on the driver, as a local relation: the
      * listed files read with Spark's parquet reader (a file that
      * vanished since the listing throws), the ADC and exact cosines
      * evaluated as the Spark plan's own expressions
      * ([[graft.core.DriverEval.bound]]), ranked
      * with [[TopKAggregator]]. Every probed row is held on the driver. */
    def onDriver: DataFrame = localFrame(spark,
      relation.fold(Array.empty[Row])(driverRows),
      probeResultSchema(queryIdCol, idCol))

    private def driverRows(rel: HadoopFsRelation): Array[Row] = {
      import org.apache.spark.sql.catalyst.expressions.JoinedRow
      import org.apache.spark.sql.execution.PartitionedFileUtil
      import org.apache.spark.sql.execution.datasources.FileFormat
      import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      val readSchema = StructType(
        Seq(idCol, "__codes", "__cn", vecCol).map(rel.dataSchema(_)))
      val read = new ParquetFileFormat().buildReaderWithPartitionValues(
        spark, rel.dataSchema, rel.partitionSchema, readSchema, Nil,
        rel.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
        spark.sessionState.newHadoopConfWithOptions(rel.options))
      val rows = files.flatMap { case (cell, f) =>
        val st = f.fileStatus
        read(PartitionedFileUtil.getPartitionedFile(f, st.getPath, cell, 0L,
          st.getLen)).map(_.copy())
      }.toArray
      val rowSchema = StructType(readSchema ++ rel.partitionSchema)
      val rowId = bound(spark, rowSchema, col(idCol).cast("long")).exprs.head
      val ids = rows.map(rowId.eval(_))
      val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToCatalystConverter(qSchema)
      val query = bound(spark, qSchema,
        col(queryIdCol).cast("long").as(queryIdCol), col("__qvec"),
        col("__qn"), flatLut(pq).as("__lut"))
      val qs = qRows.map(r =>
        query(toCatalyst(r).asInstanceOf[InternalRow]).copy())
      val scores = bound(spark, StructType(rowSchema ++ query.schema),
        adcCosine(pq), exactCosine(vecCol))
      val pair = new JoinedRow
      // a scored pair with a null id fails, as the Spark path's typed
      // rank does; a null or NaN score is excluded before the ids are read
      def rank(agg: TopKAggregator,
               ranked: mutable.Map[Long, List[(Double, Long)]], qid: Any,
               score: Any, id: Any): Unit =
        if (score != null && !score.asInstanceOf[Double].isNaN) {
          if (qid == null || id == null) throw new NullPointerException(
            s"NULL value appeared in non-nullable field: a scored probe " +
              s"pair has a null $queryIdCol or $idCol")
          val q = qid.asInstanceOf[Long]
          ranked(q) = agg.reduce(ranked.getOrElse(q, agg.zero),
            (q, score.asInstanceOf[Double], id.asInstanceOf[Long]))
        }
      // ADC: each query against every row of each of its probed cells
      val cellPos = rowSchema.fieldIndex("__cell")
      val byCell = rows.indices.groupBy(i => rows(i).getInt(cellPos))
      val adc = scores.exprs(0)
      val short = new TopKAggregator(k * factor)
      val shortlists = mutable.LinkedHashMap.empty[Long, List[(Double, Long)]]
      for (qi <- qs.indices; c <- cellsOf(qi); i <- byCell.getOrElse(c, Nil))
        rank(short, shortlists, qs(qi).get(0, LongType),
          adc.eval(pair(rows(i), qs(qi))), ids(i))
      // exact re-rank: each shortlisted (query id, id) against every row
      // with that id and every query with that query id (shortlisted ids
      // are never null)
      val byId = rows.indices.filter(ids(_) != null)
        .groupBy(i => ids(i).asInstanceOf[Long])
      val byQid = qs.filterNot(_.isNullAt(0)).groupBy(_.getLong(0))
      val exact = scores.exprs(1)
      val top = new TopKAggregator(k)
      val tops = mutable.LinkedHashMap.empty[Long, List[(Double, Long)]]
      for ((qid, cands) <- shortlists; (_, id) <- cands;
           i <- byId.getOrElse(id, Nil); q <- byQid(qid))
        rank(top, tops, qid, exact.eval(pair(rows(i), q)), id)
      val round = bound(spark, StructType(Seq(
        StructField("cosine", DoubleType))), rounded(col("cosine"))).exprs.head
      tops.toSeq.sortBy(_._1).flatMap { case (qid, best) =>
        top.finish(best).zipWithIndex.map { case ((s, id), r) =>
          Row(qid, id, round.eval(InternalRow(s)), r + 1)
        }
      }.toArray
    }
  }

  /** The schema of a probe's answer, on either path. */
  private def probeResultSchema(queryIdCol: String, idCol: String): StructType =
    StructType(Seq(
      StructField(queryIdCol, LongType, nullable = false),
      StructField(idCol, LongType),
      StructField("cosine", DoubleType),
      StructField("rank", IntegerType, nullable = false)))

  /** One query's probed cells, in probe order ([[rankCells]]). */
  private[graft] def probeCells(q: Row, centroids: Array[Array[Double]],
                         nProbe: Int): Seq[Int] =
    rankCells(doubles(q.getSeq[Any](q.fieldIndex("__qvec"))), centroids)
      .take(nProbe).toSeq

  /** Each query row repeated once per cell of `cells`, in the same
    * order, with the cell appended: with [[probeCells]], the driver-side
    * [[withProbeCells]] over collected [[withQueryNorm]] rows. */
  private[graft] def withCells(q: Array[Row], cells: Array[Seq[Int]]): Array[Row] =
    q.zip(cells).flatMap { case (r, cs) =>
      cs.map(c => Row.fromSeq(r.toSeq :+ c))
    }

  // --------------------------------------------------- index opt-out delete

  /** Delete rows from a persisted index by id — the governance
    * primitive that extends the right-to-be-forgotten pipeline
    * (`SnapshotStore.delete` → audit → vacuum; `examples/OptOutExample`)
    * to the index SERVING retrieval: deleting a user from the corpus
    * store does nothing to the copies of their vectors an index holds,
    * and every maintenance rebuild re-encodes the index's OWN stored
    * rows, so without this the opted-out vectors would persist — and
    * stay retrievable — forever.
    *
    * Bounded work, never a full rewrite (the `SnapshotStore.delete`
    * economy): the victims' cells are located by one COLUMN-PRUNED scan
    * (id + the directory-derived cell only — the vector and code columns
    * stay unread) whose single collect gives both the touched cells and
    * the rows removed; `data/` opens through one driver-side listing, not
    * a |cells|-task discovery job. Only those `__cell=` directories are
    * rewritten, each compacted to ONE part file ([[writeCells]]);
    * untouched cells keep their exact files.
    *
    * `keys` is evaluated ONCE: the locate and the rewrite read that one
    * evaluation, so a nondeterministic input cannot let victims outside
    * the touched set survive while the count claimed them. On an
    * integer-valued id ([[graft.core.DriverKeys.holds]]) a batch of at
    * most [[graft.core.DriverKeys.MaxKeys]] rows is held on the driver as
    * a literal key set, pushed into the locate scan (which collects the
    * victims' cells) and into the rewrite (which keeps the rows outside
    * the set; a stored null id stays, as in the join): one locate job and
    * the staged write, with no key relation materialized or broadcast. A
    * larger batch, or another id type, is checkpointed once, broadcast
    * into the locate's semi join (a per-cell count) and into the
    * rewrite's anti join. Both paths store the same rows (SimilaritySpec).
    * A held-type batch over the gate that is not a local relation is
    * computed twice: the bounded collect reads up to MaxKeys + 1 of its
    * rows and finds it too large, then the checkpoint evaluates it in
    * full; only the checkpoint feeds the delete, so the cost is paid twice
    * and the result stays consistent.
    *
    * Crash discipline: survivors are staged under `<path>/.staging`
    * FIRST (probes keep running against the untouched live index), then
    * the touched cells swap under the `.rebuilding` fence — readers and
    * appenders refuse a fenced index, and a crash mid-swap leaves the
    * fence plus the `.old`/`.staging` halves for recovery, exactly the
    * staged-rebuild contract. A cell whose rows are all deleted is
    * removed outright; deleting EVERY row leaves an empty index that
    * [[indexMaintain]] gauges as "ok". The width calibration
    * (`pqcal.json`) is kept — a bounded opt-out batch does not shift the
    * corpus distribution; the next `recallTarget`-bearing maintenance
    * re-checks it anyway. Single-writer, like every mutation path — and
    * mechanically so: the whole delete holds the `.mutating` writer
    * lease ([[withMutationLease]]), under which interleaved appends fail
    * loudly instead of being silently dropped by the swap.
    *
    * IN-FLIGHT READERS during the swap (the probe-vs-delete race,
    * pinned live in `SimilaritySpec`): a probe that passed the fence
    * check and is MID-SCAN when the whole-relation rename runs either
    * completes against a consistent snapshot (pre- or post-delete — its
    * file listing resolved wholly before or after the swap) or fails
    * LOUDLY on a vanished input (Spark's missing-file error; renamed-
    * away relations are absent inputs, and absent inputs are errors,
    * not skips, under the default `ignoreMissingFiles=false` — do not
    * enable that flag on index paths, it would convert this loud
    * failure into silent partial results). Clean-retry-or-consistent,
    * never silently partial — the reader half of the store's
    * reader-vs-vacuum contract.
    *
    * `keys` must carry a column named `idCol` (cast to the stored id
    * type before joining — an unconformed key would silently delete
    * nothing). Returns rows removed; ids absent from the index are a
    * no-op, so replaying an opt-out batch converges. */
  def indexDelete(spark: SparkSession, path: String, keys: DataFrame,
                  idCol: String = "id"): Long =
    indexDeleteGated(spark, path, keys, idCol)

  /** [[indexDelete]] with its key gate as a parameter: tests and the
    * `delete_gate` sweep pin either path with it (`driverKeys = 0` takes
    * the join plan); callers keep [[graft.core.DriverKeys.MaxKeys]]. */
  private[graft] def indexDeleteGated(spark: SparkSession, path: String,
                                      keys: DataFrame, idCol: String = "id",
                                      driverKeys: Int = DriverKeys.MaxKeys)
      : Long = {
    require(keys.columns.contains(idCol),
      s"keys must carry the id column '$idCol'")
    requireIndex(spark, path)
    val conf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    // writer lease held from BEFORE the data listing to after the swap
    // (see withMutationLease): an append interleaving in between writes
    // rows the staged survivors do not contain — the swap would drop
    // them silently; appends HOLD the same lease, so the interleaving is
    // structurally impossible
    withMutationLease(spark, fs, root, "indexDelete") {
    val data = readData(spark, path,
      cachedModel(spark, path, readGeneration(spark, path)).map(_.dataSchema))
    val storedIdType = data.schema(idCol).dataType
    // the key batch, evaluated once (see the scaladoc); ONE locate job
    // gives the touched cells and the count
    val located = DriverKeys.collect(keys, idCol, storedIdType,
        driverKeys) match {
      case Some(held) =>
        val keyIn = coalesce(DriverKeys.in(col(idCol), storedIdType, held),
          lit(false))
        val cells = if (held.isEmpty) Array.empty[Int]
          else data.filter(keyIn).select("__cell").collect().map(_.getInt(0))
        (cells.length.toLong, cells.toSet, (t: DataFrame) => t.filter(!keyIn))
      case None =>
        val k = keys.select(col(idCol).cast(storedIdType).as(idCol))
          .distinct().localCheckpoint(true)
        val victimsPerCell = data.select(col(idCol), col("__cell"))
          .join(broadcast(k), Seq(idCol), "left_semi")
          .groupBy("__cell").count().collect()
        (victimsPerCell.map(_.getLong(1)).sum,
          victimsPerCell.map(_.getInt(0)).toSet,
          (t: DataFrame) => t.join(broadcast(k), Seq(idCol), "left_anti"))
    }
    val (nDel, touched, survivors) = located
    if (nDel == 0L) return 0L
    val target = data.filter(col("__cell").isin(touched.toIndexedSeq: _*))
    val staging = new org.apache.hadoop.fs.Path(root, ".staging")
    fs.delete(staging, true)
    // stage the touched cells' survivors, one file per cell — live index
    // untouched, probes keep running
    writeCells(survivors(target), s"$staging/data", "overwrite")
    // fenced WHOLE-RELATION swap. Swapping cell directories one at a
    // time IN PLACE left a window where a racing probe's file listing
    // could catch SOME cells swapped and others not — a READABLE mixed
    // state, i.e. silent partial results, exactly what the
    // in-flight-readers contract forbids. Instead the relation directory
    // is renamed AWAY whole, mutated while it sits at the hidden `.old`
    // path (displaced old cells parked under `.old/parts` for crash
    // recovery, staged survivors moved in), and renamed BACK whole —
    // readers only ever observe all-old, ABSENT (a loud, retryable
    // listing/scan failure under the default ignoreMissingFiles=false),
    // or all-new, and the metadata ops stay O(touched) (2 whole-dir
    // renames + 2 per touched cell), not O(cells).
    val old = new org.apache.hadoop.fs.Path(root, ".old")
    fs.delete(old, true)
    fs.mkdirs(old)
    val parked = new org.apache.hadoop.fs.Path(old, "parts")
    fs.mkdirs(parked)
    val rod = renameOrDie(fs, path, "indexDelete") _
    withRebuildFence(fs, root) {
      val live = new org.apache.hadoop.fs.Path(root, "data")
      val hidden = new org.apache.hadoop.fs.Path(old, "data")
      rod(live, hidden)
      touched.toSeq.sorted.foreach { c =>
        rod(new org.apache.hadoop.fs.Path(hidden, s"__cell=$c"),
          new org.apache.hadoop.fs.Path(parked, s"__cell=$c"))
        val stagedCell =
          new org.apache.hadoop.fs.Path(staging, s"data/__cell=$c")
        // a cell whose rows were all victims has no staged survivors: it
        // is removed outright (the probes' partition pruning and the
        // maintainer's cell stats stop seeing it)
        if (fs.exists(stagedCell))
          rod(stagedCell, new org.apache.hadoop.fs.Path(hidden, s"__cell=$c"))
      }
      rod(hidden, live)
      // a FULLY drained relation must stay READABLE: a partitioned write
      // of zero survivors produces no files at all, and a later probe's
      // spark.read.parquet would die on schema inference instead of
      // returning zero rows. Re-seed with ONE empty schema-carrying file
      // INSIDE a cell-shaped subdir (a bare file at the relation root
      // would conflict with partition discovery once appends resume) —
      // the empty file carries the DATA-file schema, `__cell` stays
      // directory-derived, and probes/appends after a total drain keep
      // working.
      if (visibleParquetFiles(fs, live).isEmpty)
        spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(
              data.schema.fields.filterNot(_.name == "__cell")))
          .repartition(1)
          .write.mode("append").parquet(s"$live/__cell=0")
    }
    fs.delete(old, true)
    fs.delete(staging, true)
    spark.catalog.refreshByPath(s"$path/data")
    nDel
    } // withMutationLease
  }
}
