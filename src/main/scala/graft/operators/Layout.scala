package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.ZValueExpr
import graft.sinks.{MergeResult, SnapshotStore, UpsertConfig}

/** Multi-dimension data layout: Z-ORDER clustering for
  * [[graft.sinks.SnapshotStore]] (the public `OPTIMIZE ... ZORDER`
  * pattern). A single-column `clusterBy` sorts files by ONE column —
  * range predicates on any other column see full-range row groups and
  * prune nothing. Z-ordering sorts by the bit-interleave of EQUI-DEPTH
  * bucket ranks ([[graft.functions.ZValueExpr]]), so every clustered
  * dimension gets range-locality: a 1%-selectivity predicate on either
  * column of a 2-D z-order skips most row groups (measured in
  * SCALEPROBE `zorder_cluster`, vs the single-column layout which only
  * serves its own column).
  *
  * The model is the per-dimension cut-point arrays, fitted ONCE from
  * `approxQuantile` (bounded driver state: `buckets-1` doubles per
  * dimension) and FROZEN: later batches must rank against the same cuts
  * or bucket ids drift between files, so [[zOrderUpsert]] persists the
  * fitted model as a store property at creation and every later upsert
  * loads it from the store — same discipline as `nBuckets`/`clusterBy`.
  * Equi-depth ranks make skewed columns spread over the full bucket
  * range (an equi-WIDTH grid would put 67% of the fixture's `value`
  * column in the first bucket — measured while building the
  * single-column probe). Distribution drift degrades pruning gradually
  * (new data concentrating in few buckets), never correctness; refit =
  * rewrite, as in every public z-order implementation. */
object Layout {

  /** Frozen equi-depth z-order model. `cuts(d)` are the sorted interior
    * cut points of dimension `d`; bucket = #cuts ≤ value. */
  final case class ZOrderModel(cols: Seq[String], cuts: Seq[Array[Double]]) {
    require(cols.nonEmpty && cols.size == cuts.size, "one cut array per col")

    /** The z-value column for this model (inputs cast to double — fit and
      * apply must agree on the cast, and they do by construction). */
    def zColumn: Column =
      ZValueExpr(cols.map(c => col(c).cast("double")), cuts)

    /** Stable text form for store properties: `col:c1;c2|col2:c1;c2`.
      * Doubles round-trip through `java.lang.Double.toString/parseDouble`
      * exactly. Column names must not contain `|`, `:` or `;`. */
    def serialized: String = {
      cols.foreach(c => require(!c.exists("|:;".contains(_)),
        s"z-order column name '$c' contains a reserved character"))
      cols.zip(cuts).map { case (c, a) =>
        s"$c:${a.mkString(";")}"
      }.mkString("|")
    }
  }

  object ZOrderModel {
    def parse(s: String): ZOrderModel = {
      val parts = s.split("\\|").toSeq.map { p =>
        val Array(c, cs) = p.split(":", 2)
        c -> cs.split(";").filter(_.nonEmpty).map(_.toDouble)
      }
      ZOrderModel(parts.map(_._1), parts.map(_._2))
    }
  }

  /** Fit equi-depth cut points for `cols` (numeric or castable to
    * double). `buckets` per dimension; duplicates collapse on heavy
    * point masses (fewer effective buckets there — correct, just
    * coarser). Driver state: `(buckets-1) * cols.size` doubles. */
  def fitZOrder(df: DataFrame, cols: Seq[String],
                buckets: Int = 256): ZOrderModel = {
    require(cols.nonEmpty, "at least one z-order column")
    require(buckets >= 2 && buckets <= 65536, "buckets in [2, 65536]")
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    val casted = df.select(cols.map(c => col(c).cast("double").as(c)): _*)
    val cuts = cols.map { c =>
      val q = casted.stat.approxQuantile(c, probs, 1.0 / (4.0 * buckets))
      // an all-NULL (or empty) fitting batch yields an empty quantile
      // array; persisting that model would poison the store — every later
      // zOrderUpsert loads it and fails at ZValueExpr's non-empty-cuts
      // require. Fail HERE, before anything is persisted.
      require(q.nonEmpty,
        s"z-order column '$c' has no non-null values in the fitting " +
          "batch; fit the model from a batch that populates every " +
          "z-order dimension")
      q.distinct.sorted
    }
    ZOrderModel(cols, cuts)
  }

  private val ModelProp = "zorderModel"
  private val BucketsProp = "zorderBuckets"

  /** Stored z-order model of a store, if any. */
  def zOrderModel(spark: SparkSession, root: String): Option[ZOrderModel] =
    SnapshotStore.getProperty(spark, root, ModelProp).map(ZOrderModel.parse)

  /** Occupancy-skew report for a z-ordered store's FROZEN model — the
    * drift instrument the frozen-cuts design calls for. One scan of the
    * store ranks every row against the persisted cut points per
    * dimension (single-dimension [[ZValueExpr]] = the bucket rank
    * itself) and reports, per dimension:
    *
    *  - `buckets` (the model's potential bucket count = cuts+1),
    *    `occupied` (ranks actually holding rows), `rows`;
    *  - `max_share` — the hottest rank's row fraction;
    *  - `balance` = max_share × buckets: ≈1 means the equi-depth fit
    *    still spreads the dimension (each rank ~its fair share, the
    *    state a fresh fit starts in); growing balance means new data is
    *    concentrating into few ranks, the interleave is losing
    *    resolution on that dimension, and range pruning decays toward a
    *    layout sorted only by the OTHER dimensions.
    *
    * REFIT RULE (measured, SCALEPROBE `zorder_drift`): drift degrades
    * pruning GRADUALLY, never correctness — schedule a refit-rewrite
    * (read + [[zOrderUpsert]] into a fresh root) when a dimension's
    * `balance` has grown to several times its post-fit value; the probe
    * records the balance signal alongside the measured scan decay so
    * the threshold is a read-off, not a guess. Cost: one column-pruned
    * scan + a bounded aggregation (≤ buckets rows per dimension).
    *
    * SAMPLED GAUGE (`sampleBuckets` > 0): rank only a deterministic
    * subset of the store's hash buckets instead of the full store. Store
    * bucket membership is `hash(discriminant)` — independent of the
    * z-order columns' values — so the subset is an unbiased row sample,
    * and `balance`/`max_share` are RATIOS that survive sampling (the
    * estimate's cost is `sampleBuckets/nBuckets` of the full scan; its
    * fidelity is measured in SCALEPROBE `zorder_gauge`). `occupied` and
    * `rows` describe the SAMPLE, not the store, under sampling. A store
    * with ≤ `sampleBuckets` manifest buckets reads in full — sampling never
    * costs a second pass. */
  def zOrderDriftStats(spark: SparkSession, root: String,
                       sampleBuckets: Int = 0): DataFrame =
    driftStatsFrom(spark, driftSource(spark, root, sampleBuckets)._1,
      zOrderModel(spark, root).getOrElse(throw
        new IllegalArgumentException(s"store at $root has no z-order model")))

  /** The rows a drift gauge at `sampleBuckets` resolution reads, plus
    * whether it ACTUALLY sampled — the single owner of the sampling
    * predicate, so [[zOrderMaintain]]'s escalation logic can never
    * disagree with what the gauge read (a store with ≤ `sampleBuckets`
    * manifest buckets reads in full). */
  private def driftSource(spark: SparkSession, root: String,
                          sampleBuckets: Int): (DataFrame, Boolean) = {
    val ids = SnapshotStore.manifestBucketIds(spark, root)
    if (sampleBuckets > 0 && ids.size > sampleBuckets)
      (SnapshotStore.readBucketSubset(spark, root,
        sampleBucketIds(ids, sampleBuckets)), true)
    else
      (SnapshotStore.read(spark, root).getOrElse(throw
        new IllegalArgumentException(
          s"store at $root has no committed data")), false)
  }

  /** [[zOrderDriftStats]]'s aggregation over an already-resolved source. */
  private def driftStatsFrom(spark: SparkSession, df: DataFrame,
                             model: ZOrderModel): DataFrame = {
    import spark.implicits._
    val dims = model.cols.indices.map { i =>
      struct(lit(model.cols(i)).as("zcol"),
        ZValueExpr(Seq(col(model.cols(i)).cast("double")),
          Seq(model.cuts(i))).as("bucket"))
    }
    val sizes = model.cols.zip(model.cuts).map { case (c, cuts) =>
      (c, cuts.length + 1)
    }.toDF("zcol", "buckets")
    df.select(explode(array(dims: _*)).as("d"))
      .select(col("d.zcol").as("zcol"), col("d.bucket").as("bucket"))
      .groupBy("zcol", "bucket").agg(count(lit(1)).as("__n"))
      .groupBy("zcol").agg(count(lit(1)).as("occupied"),
        sum(col("__n")).as("rows"),
        (max(col("__n")) / sum(col("__n"))).as("max_share"))
      .join(broadcast(sizes), Seq("zcol"))
      .select(col("zcol"), col("buckets"), col("occupied"), col("rows"),
        col("max_share"), (col("max_share") * col("buckets")).as("balance"))
      .orderBy("zcol")
  }

  /** Deterministic bucket subset for the sampled gauge: the `n` ids
    * ranking first by `byteswap32(id)` (ties by id) — stable across calls
    * and JVMs, spread over the id range rather than always ids 0..n-1, so
    * repeated nightly gauges read the SAME buckets (page-cache friendly,
    * comparable across nights). */
  private[graft] def sampleBucketIds(ids: Set[Int], n: Int): Set[Int] =
    ids.toSeq.sortBy(b => (scala.util.hashing.byteswap32(b), b))
      .take(n).toSet

  /** The sampled-trigger decision kernel, factored pure so the escalation
    * contract is spec-testable without fixtures: `sampled` is the cheap
    * gauge's worst balance (None = empty store), `full` the full gauge,
    * FORCED ONLY when the sampled value is inside the ambiguity band
    * `maxBalance · (1 ± confirmBand)` — a clear-margin sampled reading
    * decides outright, so sampling can shift WHEN the refit fires only
    * within the band, never flip a clear decision. `sampledIsFull` short-
    * circuits the band when the "sample" already read the whole store. */
  private[graft] def driftDecision(sampled: Option[Double],
                                   full: => Option[Double],
                                   maxBalance: Double, confirmBand: Double,
                                   sampledIsFull: Boolean): Boolean =
    sampled match {
      case None => false
      case Some(w) if sampledIsFull => w > maxBalance
      case Some(w) if w <= maxBalance * (1.0 - confirmBand) => false
      case Some(w) if w > maxBalance * (1.0 + confirmBand) => true
      // ambiguous: the full gauge decides (pays the scan only on
      // borderline nights)
      case _ => full.exists(_ > maxBalance)
    }

  /** Drift-triggered automatic refit for a z-ordered store — the
    * trigger/rebuild automation [[zOrderDriftStats]]'s REFIT RULE calls
    * for, mirroring `Similarity.ivfPqMaintain`'s shape (bounded health
    * read → threshold → in-place rebuild → returns the decision).
    *
    * Reads the drift report (one column-pruned scan, ≤ buckets rows per
    * dimension) and, when any dimension's `balance` exceeds
    * `maxBalance`, refits the equi-depth cuts on the CURRENT data and
    * rewrites the store in place ([[SnapshotStore.rewrite]]): every
    * bucket's rows re-rank against the fresh cuts and land fully sorted
    * by the new `__zorder` — restoring the range-pruning the drifted
    * model lost (SCALEPROBE `zorder_drift`: a drifted dimension decays
    * to ~0.8× of unclustered; a refit recovers ~2.4×). Returns
    * `"refit"` or `"ok"` so callers can log/alert on the decision.
    *
    * `maxBalance` is in post-fit units: a fresh equi-depth fit starts at
    * balance ≈ 1 (each rank holds ~its fair share), so the default 4.0
    * means "the hottest rank holds 4× its fair share" — the same
    * several-times-post-fit threshold `ivfPqMaintain.maxSkew` uses.
    *
    * Crash ordering: the model property is replaced AFTER the rewrite
    * commits. A crash between the two leaves committed data ranked
    * against the NEW cuts while the property still names the old —
    * correctness is untouched (the stored `__zorder` column is what
    * reads and sorts use; nothing re-derives ranks), drift stats rank
    * raw columns against the OLD cuts and still report the drift, so
    * the next maintain call re-triggers and the refit self-heals.
    * Single-writer, like every store maintenance path.
    *
    * The rewrite surfaces in the row-level change feed as updates
    * (`__zorder` is a stored column and its values changed) — consumers
    * diffing across a refit should expect a full-churn feed, exactly as
    * they would across any layout-changing rewrite.
    *
    * SAMPLED TRIGGER (`sampleBuckets` > 0, the [[storeMaintain]]
    * default): the drift gauge first runs over a deterministic bucket
    * subset ([[zOrderDriftStats]]'s sampled form — the nightly health
    * check must not cost a full store scan when the answer is "ok", the
    * common night). The sampled estimate DECIDES outright when it is
    * clear of the threshold by `confirmBand` on either side; inside the
    * ambiguity band the FULL gauge re-reads and decides — sampling can
    * therefore change WHEN the refit fires only within the band (a
    * borderline night resolves exactly), never flip a clear decision.
    * `sampleBuckets = 0` is the original always-full gauge. */
  def zOrderMaintain(spark: SparkSession, root: String,
                     maxBalance: Double = 4.0,
                     buckets: Int = 0,
                     sampleBuckets: Int = 0,
                     confirmBand: Double = 0.25): String = {
    require(maxBalance > 1.0, "maxBalance must exceed 1 (1 = freshly fit)")
    require(confirmBand >= 0.0 && confirmBand < 1.0,
      "confirmBand must be in [0, 1)")
    val model = zOrderModel(spark, root).getOrElse(throw
      new IllegalArgumentException(s"store at $root has no z-order model"))
    // the refit resolution is the RECORDED creation-time granularity
    // (persisted by zOrderUpsert like nBuckets/clusterBy); an explicit
    // buckets argument must agree — a silent 64→256 refit would change
    // the balance gauge's units and the layout's pruning granularity.
    // Stores created before the property default to 256 (the historical
    // zOrderUpsert default) unless the caller states otherwise.
    val recorded = SnapshotStore.getProperty(spark, root, BucketsProp)
      .flatMap(_.toIntOption)
    recorded.foreach(r => require(buckets == 0 || buckets == r,
      s"store at $root records zorderBuckets=$r but this call requested " +
        s"$buckets; the recorded creation-time granularity wins"))
    val effBuckets = recorded.getOrElse(if (buckets > 0) buckets else 256)
    // worst-dimension balance at a given gauge resolution; None = store
    // empty (a store delete() emptied out has zero rows → no drift to act
    // on). driftSource owns the sampling predicate and reports whether it
    // actually sampled, so a borderline value on a small store is never
    // "confirmed" by re-reading the identical data.
    def worstOf(df: DataFrame): Option[Double] = {
      val r = driftStatsFrom(spark, df, model)
        .agg(max(col("balance"))).collect()(0)
      if (r.isNullAt(0)) None else Some(r.getDouble(0))
    }
    val (src, sampledReal) = driftSource(spark, root, sampleBuckets)
    val drifted = driftDecision(worstOf(src),
      worstOf(driftSource(spark, root, 0)._1), maxBalance,
      confirmBand, sampledIsFull = !sampledReal)
    if (!drifted) "ok"
    else {
      val data = SnapshotStore.read(spark, root).getOrElse(throw
        new IllegalArgumentException(s"store at $root has no committed data"))
      val fresh = fitZOrder(data.drop("__zorder"), model.cols, effBuckets)
      SnapshotStore.rewrite(spark, root,
        df => df.withColumn("__zorder", fresh.zColumn))
      SnapshotStore.setProperty(spark, root, ModelProp, fresh.serialized)
      "refit"
    }
  }

  /** What [[storeMaintain]] did, per step. `compacted` = fragmented
    * buckets rewritten; `layout` = "refit" / "ok" / "n/a" (no z-order
    * model); `vacuumed` = versions whose readability was reclaimed. */
  final case class MaintainReport(compacted: Int, layout: String,
                                  vacuumed: Seq[Long])

  /** One-call store housekeeping — the nightly-cron composite over the
    * three maintenance operators, each gated by its own measured
    * trigger, in dependency order:
    *
    *  1. [[zOrderMaintain]] FIRST — for z-ordered stores, refits +
    *     rewrites in place when any dimension's drift balance exceeds
    *     `maxBalance` (skipped entirely when the store has no z-order
    *     model: plain and single-column-clustered stores report
    *     layout = "n/a"). The trigger reads the BUCKET-SAMPLED gauge
    *     (`sampleBuckets` of the store's hash buckets — the common "ok"
    *     night costs ~sampleBuckets/nBuckets of a full scan, measured in
    *     SCALEPROBE `zorder_gauge`), escalating to the full gauge only
    *     inside the ambiguity band;
    *  2. [[SnapshotStore.compact]] — rewrites buckets fragmented past
    *     `maxFilesPerBucket` (no-op otherwise). SKIPPED on a refit
    *     night: the refit rewrite just re-sorted EVERY bucket into one
    *     file each, so there is nothing left to compact and a
    *     compact-first ordering would have paid a full-store rewrite
    *     only to supersede it — drift-check-first is what makes the
    *     skip safe;
    *  3. [[SnapshotStore.vacuum]] — reclaims versions beyond `keep`,
    *     LAST, so the versions steps 1-2 just obsoleted fall out of
    *     retention on the same call instead of the next one.
    *
    * Single-writer like every maintenance path. Returns what happened,
    * so schedulers can log/alert on decisions, not silence. */
  def storeMaintain(spark: SparkSession, root: String,
                    maxFilesPerBucket: Int = 1,
                    maxBalance: Double = 4.0,
                    keep: Int = 2,
                    sampleBuckets: Int = 64): MaintainReport = {
    val layout =
      if (zOrderModel(spark, root).isDefined)
        zOrderMaintain(spark, root, maxBalance,
          sampleBuckets = sampleBuckets)
      else "n/a"
    val compacted =
      if (layout == "refit") 0
      else SnapshotStore.compact(spark, root, maxFilesPerBucket)
    val vacuumed = SnapshotStore.vacuum(spark, root, keep)
    MaintainReport(compacted, layout, vacuumed)
  }

  /** [[SnapshotStore.upsert]] with Z-ORDER layout on `cols`: at store
    * creation fits the model from the first batch, persists it, and
    * creates the store with `clusterBy = Seq("__zorder")`; later calls
    * load the frozen model and rank against it (pass the same `cols` —
    * mismatches fail loudly). The z column is STORED (8 bytes/row) —
    * that is what lets `clusterBy`'s sort, `compact`'s repair and any
    * external reader share the layout without re-deriving it. Reads are
    * unchanged; `SnapshotStore.read(...).drop("__zorder")` if the
    * column bothers a consumer. */
  def zOrderUpsert(spark: SparkSession, root: String, updates: DataFrame,
                   cols: Seq[String], cfg: UpsertConfig = UpsertConfig(),
                   nBuckets: Int = SnapshotStore.DefaultBuckets,
                   buckets: Int = 256): MergeResult = {
    require(!updates.columns.contains("__zorder"),
      "updates already carry a __zorder column")
    val stored = zOrderModel(spark, root)
    stored.foreach(m => require(m.cols == cols,
      s"store is z-ordered on ${m.cols.mkString(",")}, not " +
        s"${cols.mkString(",")}"))
    // an EXISTING store without a model cannot be z-ordered in place: the
    // recorded (empty) clusterBy would win and the merge would silently
    // drop the __zorder column — the data would commit unclustered while
    // this call records a model claiming otherwise. Converting a store is
    // a rewrite, not an upsert.
    require(stored.isDefined ||
      SnapshotStore.currentVersion(spark, root).isEmpty,
      s"store at $root exists but is not z-ordered; converting an " +
        "existing store requires a rewrite (read + zOrderUpsert into a " +
        "fresh root)")
    val model = stored.getOrElse(fitZOrder(updates, cols, buckets))
    // persist BEFORE the data commit: serialization validates the column
    // names (reserved characters) while nothing has committed yet, and a
    // crash between the two writes then leaves a model with no data —
    // the next call loads it and proceeds consistently — rather than
    // committed z-ranked data with no model, which a later call would
    // silently re-rank against freshly fitted, different cuts
    // ONE property write for both keys: the rank granularity is
    // creation-time layout state like nBuckets/clusterBy (a later refit
    // must re-fit at the SAME resolution or balance gauges change units
    // and pruning granularity silently diverges from the design), and two
    // separate writes would open a crash window leaving a model WITHOUT
    // its recorded granularity — a later zOrderMaintain would silently
    // default to 256, exactly the units drift the recorded-buckets
    // require() exists to prevent
    if (stored.isEmpty)
      SnapshotStore.setProperties(spark, root, Map(
        ModelProp -> model.serialized,
        BucketsProp -> buckets.toString))
    val withZ = updates.withColumn("__zorder", model.zColumn)
    SnapshotStore.upsert(spark, root, withZ, cfg, nBuckets,
      clusterBy = Seq("__zorder"))
  }
}
