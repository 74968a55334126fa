package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ObjectNode, TextNode}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.functions.{TextFunctions => TF}
import graft.operators.{Dedup, Joins, Packing, Similarity}
import graft.sinks.UpsertConfig
import graft.sources.Tables
import graft.tools.DevSession

/** Scale probes (dev tool, not part of the Verify/Bench contract): a
  * registry of named probes, each measuring one operator family on
  * manufactured volume — `SCALE` replicas of a fixture, built so that the
  * workload (rows, exchange bytes, join fan-out) grows linearly while the
  * per-replica structure stays intact. Each probe prints one
  * `{"probe":<name>,…}` line and merges the same entry into
  * `SCALEPROBE.json` at the repo root (keyed by probe name; re-running a
  * probe replaces only its own entry), so scale measurements are a
  * committed artifact diffable across rounds, not prose.
  *
  * Shared machinery: [[minOfPasses]] (min wall over `PASSES` runs, first
  * run's result), the replicated-corpus builders on [[Ctx]] and one JSON
  * emitter ([[Ctx.emit]] over [[writeArtifact]]).
  *
  * Env: SPARK_GRAFT_SF_DIR (the fixture to replicate, default sf0.1),
  * SPARK_GRAFT_SCALE (replicas, default 10), SPARK_GRAFT_SCALE_PASSES
  * (default 2), SPARK_GRAFT_PROBES (comma list of registry names; default:
  * every entry not marked opt-in) and SPARK_GRAFT_CPUS (via
  * [[graft.tools.DevSession]]). `core_scaling`, `simhash_precision`,
  * `probe_gate`, `dedup_gate`, `delete_gate` and `fingerprint_skew` are
  * opt-in; `bpe_train` reads SPARK_GRAFT_BPE_MERGES, `core_scaling`
  * SPARK_GRAFT_CORE_OPS.
  */
object ScaleProbe {

  final case class Probe(name: String, run: Ctx => Unit, default: Boolean = true)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scale = sys.env.get("SPARK_GRAFT_SCALE")
      .flatMap(_.trim.toIntOption).getOrElse(10)
    val passes = sys.env.get("SPARK_GRAFT_SCALE_PASSES")
      .flatMap(_.trim.toIntOption).getOrElse(2)
    val chosen = sys.env.get("SPARK_GRAFT_PROBES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val unknown = chosen.getOrElse(Set.empty) -- registry.map(_.name)
    require(unknown.isEmpty, s"unknown probes: ${unknown.mkString(", ")}")
    val spark = DevSession.create()
    val ctx = new Ctx(spark, sfDir, scale, passes, DevSession.cpus)
    try registry.filter(p => chosen.fold(p.default)(_(p.name))).foreach(_.run(ctx))
    finally spark.stop()
  }

  /** Min wall seconds over `passes` runs of `run`, with the FIRST run's
    * result; `before` runs untimed ahead of every pass. */
  private[graft] def minOfPasses[T](passes: Int, before: => Unit = ())(run: => T): (Double, T) = {
    val times = (1 to passes).map { _ =>
      before
      val t0 = System.nanoTime()
      val r = run
      ((System.nanoTime() - t0) / 1e9, r)
    }
    (times.map(_._1).min, times.head._2)
  }

  /** Wall seconds of one run of `run`, with its result. */
  private def timeOnce[T](run: => T): (Double, T) = minOfPasses(1)(run)

  /** A JSON value assembled by [[obj]]. */
  final case class Json(text: String) { override def toString: String = text }

  /** One JSON object, keys in the given order: a String value is quoted,
    * a [[Json]] value nests, anything else renders by `toString`
    * (numbers, booleans). */
  private[graft] def obj(fields: (String, Any)*): Json =
    Json(fields.map { case (k, v) =>
      val value = v match {
        case null => "null"
        case s: String => TextNode.valueOf(s).toString
        case other => other.toString
      }
      TextNode.valueOf(k).toString + ":" + value
    }.mkString("{", ",", "}"))

  /** `{name: {"sec": s, <field>: result}, …}` of timed variants. */
  private def perVariant(rs: Seq[(String, (Double, Any))], field: String): Json =
    obj(rs.map { case (k, (secs, r)) => k -> obj("sec" -> secs, field -> r) }: _*)

  /** Merge one probe's entry into the JSON object at `path` (created when
    * absent): the probe's key is replaced, every other key is kept. */
  private[graft] def writeArtifact(path: Path, probe: String, entry: Json): Unit = {
    val mapper = new ObjectMapper()
    val root = if (Files.exists(path)) mapper.readTree(Files.readAllBytes(path)) match {
      case o: ObjectNode => o
      case _ => mapper.createObjectNode()
    } else mapper.createObjectNode()
    root.set[JsonNode](probe, mapper.readTree(entry.text))
    Files.write(path, root.toPrettyString.getBytes("UTF-8"))
    ()
  }

  /** Rotate a 64-wide array column left by `s`: replicas become distinct
    * DIRECTIONS with the same norm/coordinate distribution (verbatim
    * copies would co-locate every true neighbor with its query and
    * degenerate recall to 1.0 at any probe budget). */
  private def rotate64(c: Column, s: Int) =
    if (s == 0) c else concat(slice(c, s + 1, 64 - s), slice(c, 1, s))

  private val alphabet = "abcdefghijklmnopqrstuvwxyz"

  /** Replica `i`'s letter rotation of the lower-cased text column. */
  private def rotatedText(i: Int): Column = translate(lower(col("text")), alphabet,
    alphabet.drop(i % 26) + alphabet.take(i % 26)).as("text")

  /** `c + i·1e8` under the same name: replica i's disjoint id band. */
  private def offset(c: String, i: Int, stride: Long = 100000000L): Column =
    (col(c) + lit(i.toLong * stride)).as(c)

  /** ~256 B of high-entropy payload per event row, salted by tag and
    * replica: real tables carry wide rows, and the decode of these bytes
    * is what layout and pruning save. */
  private def payload(tag: String, i: Int): Column =
    repeat(md5(concat(col("event_id").cast("string"), lit(s"$tag$i"))), 8).as("payload")

  /** An md5 coin on `idCol` at `rate` (the planted-copy selector). */
  private def coin(idCol: String, rate: Double): Column =
    substring(md5(col(idCol).cast("string")), 1, 8) < lit(TF.coinThreshold(rate))

  private def storeCfg = UpsertConfig(discriminant = Seq("event_id"),
    clock = Some(to_timestamp(lit("2026-01-01 00:00:00"))))

  /** What a probe reads: the session and the env knobs, plus the shared
    * timing, corpus and emit helpers bound to them. */
  final class Ctx(val spark: SparkSession, val sfDir: String, val scale: Int,
                  val passes: Int, val cpus: Int) {
    // Planted-copy id offset for the planted-pair probes, strictly above
    // every replica id at ANY scale: replica i offsets ids by i*1e8
    // (i < scale) and base ids sit far below 1e8, so scale*1e8 clears
    // them all — a FIXED literal offset (1e9, 1e10 historically) collides
    // with the replica band once scale crosses literal/1e8, duplicating
    // vec_ids and silently corrupting planted_recall.
    val plantOffset: Long = scale.toLong * 100000000L

    def timed[T](run: => T): (Double, T) = minOfPasses(passes)(run)
    /** [[timed]] with the cache cleared before every pass. */
    def timedCold[T](run: => T): (Double, T) =
      minOfPasses(passes, spark.catalog.clearCache())(run)
    def wall(run: => Any): Double = timed(run)._1
    /** Min-of-passes per named variant (cache cleared before each pass). */
    def timeVariants[T](vs: (String, () => T)*): Seq[(String, (Double, T))] =
      vs.map { case (name, run) => name -> timedCold(run()) }

    def fixture(table: String, cols: String*): DataFrame =
      spark.read.parquet(s"$sfDir/$table.parquet").select(cols.map(col): _*)
    def events(cols: String*): DataFrame =
      Tables.withEventTimestamp(spark.read.parquet(s"$sfDir/events.parquet"))
        .select(cols.map(col): _*)

    def replicas(reps: Int = scale)(leg: Int => DataFrame): DataFrame =
      (0 until reps).map(leg).reduce(_ unionByName _)
    /** Letter-rotated documents: replica shingle sets are disjoint, so
      * pair structure and bucket sizes stay per-replica. */
    def rotatedDocs(reps: Int = scale): DataFrame = {
      val docs = fixture("documents", "doc_id", "text")
      replicas(reps)(i => docs.select(offset("doc_id", i), rotatedText(i)))
    }
    /** Documents whose text carries a per-replica leading token. */
    def taggedDocs(tag: String): DataFrame = {
      val docs = fixture("documents", "doc_id", "text")
      replicas()(i => docs.select(offset("doc_id", i),
        concat(lit(s"$tag$i "), col("text")).as("text")))
    }
    /** Embedding replicas; `rotate` makes replica i a distinct direction
      * ([[rotate64]] by 7i), otherwise a verbatim copy. */
    def embeddingReplicas(rotate: Boolean, reps: Int = scale): DataFrame = {
      val emb = fixture("embeddings", "vec_id", "embedding")
      replicas(reps)(i => emb.select(offset("vec_id", i),
        (if (rotate) rotate64(col("embedding"), (i * 7) % 64) else col("embedding"))
          .as("embedding")))
    }
    /** Event replicas: event_id in replica bands, user_id (when selected)
      * offset by i·userStride. */
    def eventReplicas(userStride: Long, cols: String*): DataFrame = {
      val ev = events(cols: _*)
      replicas()(i => ev.select(cols.map {
        case "event_id" => offset("event_id", i)
        case "user_id" => offset("user_id", i, userStride)
        case c => col(c)
      }: _*))
    }
    /** The z-order probes' store corpus: user_id as double, wide payload. */
    def zCorpus(tag: String): DataFrame = {
      val ev = events("event_id", "user_id", "value")
      replicas()(i => ev.select(offset("event_id", i),
        col("user_id").cast("double").as("user_id"), col("value"), payload(tag, i)))
    }
    /** A regime change: same users, values shifted far beyond the range a
      * model fitted on `df` covers, ids above every replica band. */
    def driftedTwin(df: DataFrame): DataFrame = df.select(
      (col("event_id") + lit(scale.toLong * 100000000L)).as("event_id"),
      col("user_id"), (col("value") + lit(1.0e6)).as("value"), col("payload"))

    def tempDir(tag: String): Path = Files.createTempDirectory(s"graft_$tag")
    def storePath(tag: String): String = tempDir(tag).resolve("store").toString
    /** Write `df` in `partitions` files under a fresh temp dir and read it
      * back: the staged corpus every timed pass scans. */
    def staged(df: DataFrame, tag: String, partitions: Int = cpus): DataFrame = {
      val path = tempDir(tag).resolve("data.parquet").toString
      df.repartition(partitions).write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }
    def dirBytes(p: String): Long = {
      val fp = new org.apache.hadoop.fs.Path(p)
      val fs = fp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(fp)) 0L else fs.getContentSummary(fp).getLength
    }

    /** Run `body` with 1 MB parquet row groups, restored afterwards even
      * on failure: row-group pruning needs row-group MULTIPLICITY, which a
      * probe-sized bucket file only has with small row groups. */
    def withSmallRowGroups[T](body: => T): T = {
      val hc = spark.sparkContext.hadoopConfiguration
      val prev = hc.get("parquet.block.size")
      hc.setInt("parquet.block.size", 1 << 20)
      try body
      finally if (prev == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", prev)
    }

    /** Print `{"probe":<name>,…}` and merge the entry into SCALEPROBE.json. */
    def emit(probe: String, entry: Json): Unit = {
      println(s"""{"probe":"$probe",${entry.text.tail}""")
      writeArtifact(Paths.get("SCALEPROBE.json"), probe, entry)
    }
  }

  /** Time-ordered file slices of `df`, written sequentially so file mtimes
    * follow event time and a streaming replay sees cross-batch disorder
    * only inside its delay. */
  private def writeTimeSlices(df: DataFrame, path: String, slices: Int): Unit = {
    val sliced = df.withColumn("__s",
      ntile(slices).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("ts")))).persist()
    try (1 to slices).foreach { s =>
      sliced.filter(col("__s") === s).drop("__s")
        .coalesce(1).write.mode("append").parquet(path)
    } finally sliced.unpersist()
  }

  /** A listener tracking the peak state-store rows of any running query:
    * the streaming boundedness claim made measurable. */
  private final class MaxStateRows extends StreamingQueryListener {
    val peak = new AtomicLong(0L)
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val rows = e.progress.stateOperators.headOption.map(_.numRowsTotal).getOrElse(0L)
      peak.getAndUpdate(m => math.max(m, rows))
      ()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** Every probe, in run order; the default selection runs all but the
    * opt-in entries. */
  val registry: Seq[Probe] = Seq(
    Probe("pair_join_scale", pairJoinScale),
    Probe("clusters_chain", clustersChain),
    Probe("ann_scale", annScale),
    Probe("ivf_recall_curve", ivfRecallCurve),
    Probe("embcos_scale", embcosScale),
    Probe("semdedup_scale", semdedupScale),
    Probe("packing_skew", packingSkew),
    Probe("shared_spans_scale", sharedSpansScale),
    Probe("image_dedup_scale", imageDedupScale),
    Probe("events_scale", eventsScale),
    Probe("charlm_scale", charlmScale),
    Probe("heavy_hitters_scale", heavyHittersScale),
    Probe("ivf_maintain", ivfMaintain),
    Probe("ivf_autotune", ivfAutotune),
    Probe("pq_drift", pqDrift),
    Probe("asof_skew", asofSkew),
    Probe("skew_autostrategy", skewAutostrategy),
    Probe("snapshot_cluster", snapshotCluster),
    Probe("asof_enrich_stream", asofEnrichStream),
    Probe("sessionize_stream", sessionizeStream),
    Probe("zorder_cluster", zorderCluster),
    Probe("zorder_drift", zorderDrift),
    Probe("zorder_maintain", zorderMaintain),
    Probe("zorder_gauge", zorderGauge),
    Probe("asof_merge_scale", asofMergeScale),
    Probe("pq_crossover", pqCrossover),
    Probe("pq_bytes", pqBytes),
    Probe("line_dedup_scale", lineDedupScale),
    Probe("bpe_train", bpeTrain),
    Probe("minhash_planted_scale", minhashPlantedScale),
    Probe("incremental_dedup_scale", incrementalDedupScale),
    Probe("cdf_scale", cdfScale),
    Probe("delete_scale", deleteScale),
    Probe("index_delete_scale", indexDeleteScale),
    Probe("core_scaling", coreScaling, default = false),
    Probe("simhash_precision", simhashPrecision, default = false),
    Probe("probe_gate", probeGate, default = false),
    Probe("dedup_gate", dedupGate, default = false),
    Probe("delete_gate", deleteGate, default = false),
    Probe("fingerprint_skew", fingerprintSkew, default = false))

  /** The pair-join strategies on letter-rotated replicas: the exact
    * single-pass string-keyed inverted-index join, the MinHash prefilter
    * and the stats-gated `auto` choice between them. `maxDf` scales with
    * the replica count for the chargram variants so the stop-shingle
    * semantics stay per-replica (only letter-free shingles —
    * digits/punctuation — cross replicas, and those are exactly the
    * boilerplate maxDf exists to drop). */
  private def pairJoinScale(c: Ctx): Unit = {
    import c._
    val corpus = staged(rotatedDocs(), "scale")
    val nDocs = corpus.count()
    // strategies are PINNED per variant: the default is now the stats-
    // gated "auto", which escalates dense char-gram corpora to minhash on
    // its own — an unpinned "single" variant would silently measure the
    // escalated path instead of the one its label names
    val results = timeVariants(
      "ngram_single" -> (() => Dedup.ngramJaccardPairs(
        corpus, "text", "doc_id", shingleSize = 3, threshold = 0.1,
        strategy = "single").count()),
      "chargram_single" -> (() => Dedup.charJaccardPairs(
        corpus, "text", "doc_id", shingleSize = 12, threshold = 0.3,
        maxDf = 50L * scale, strategy = "single").count()),
      // MinHash prefilter → exact verify: corpus-linear candidate
      // generation instead of the |shared shingles|-bound self-join;
      // recall is probabilistic (r=2, b=64 → ~0.998 per pair at j=0.3)
      // so `rows` may undercount the exact variants — compare both
      // columns when reading the entry.
      "chargram_minhash" -> (() => Dedup.charJaccardPairs(
        corpus, "text", "doc_id", shingleSize = 12, threshold = 0.3,
        maxDf = 50L * scale, strategy = "minhash").count()),
      // the stats gate itself: at this volume (~40M exploded shingle
      // rows, far past the 10M knee) "auto" must escalate to the minhash
      // prefilter on its own — expect ~chargram_minhash wall, not
      // ~chargram_single (decision logged by Dedup.autoStrategy)
      "chargram_auto" -> (() => Dedup.charJaccardPairs(
        corpus, "text", "doc_id", shingleSize = 12, threshold = 0.3,
        maxDf = 50L * scale, strategy = "auto").count()))
    emit("pair_join_scale", obj("scale" -> scale, "docs" -> nDocs,
      "passes" -> passes, "variants" -> perVariant(results, "rows"), "sf" -> sfDir))
  }

  /** Deep-chain clusters probe: the adversarial shape for min-label
    * propagation (diameter = chain length, so plain propagation pays one
    * distributed hop per level) vs pointer doubling (O(log diameter)
    * hops). Real near-dup graphs are shallow — this measures the
    * pathological tail. Three variants since the adaptive escalation
    * landed: pure propagation (adaptAfter disabled), the DEFAULT
    * arguments (plain hops until adaptAfter, then path-halving), and
    * doubling forced from the first hop. */
  private def clustersChain(c: Ctx): Unit = {
    import c._
    val chainLen = 64
    val nChains = 3000
    val chainEdges = spark.range(0L, chainLen.toLong * nChains)
      .filter(col("id") % chainLen =!= (chainLen - 1)) // no edge across chains
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      .repartition(cpus)
      .persist()
    chainEdges.count()
    def nClusters(df: DataFrame): Long =
      df.select(countDistinct("cluster")).as[Long](spark.implicits.newLongEncoder).head()
    // the edges stay cached across passes: no cache clearing here
    val results = Seq(
      "propagate" -> (() => nClusters(Dedup.clusters(chainEdges, maxIter = 200,
        adaptAfter = Int.MaxValue))),
      "adaptive_default" -> (() => nClusters(Dedup.clusters(chainEdges, maxIter = 200))),
      "pointer_doubling" -> (() => nClusters(Dedup.clusters(chainEdges, maxIter = 200,
        pointerDoubling = true)))
    ).map { case (name, run) => name -> timed(run()) }
    results.foreach { case (name, (_, n)) =>
      require(n == nChains,
        s"clusters_chain/$name resolved $n components, expected $nChains")
    }
    emit("clusters_chain", obj("chain_len" -> chainLen, "chains" -> nChains,
      "passes" -> passes, "variants" -> perVariant(results, "clusters")))
  }

  /** ANN at SCALE×: per-query-batch cost of brute force (scores every
    * corpus row) vs the PERSISTED index (ivfPqBuild once — paid
    * separately and reported as index_build_sec — then ivfPqProbeTopK
    * reads only the probed ~nProbe/nCells of the data via static
    * partition pruning, ADC-scores their codes and re-ranks the
    * shortlist with persisted norms). The INLINE ivfTopK is deliberately
    * not a variant: its per-call cell assignment does nCells dot
    * products per corpus row, which can never beat a 20-query brute pass
    * (20 < nCells) — the amortized index is the actual scale path.
    * Replicas reuse the same vectors (cell populations scale linearly,
    * like a denser crawl of the same distribution); queries are a fixed
    * 20-vector batch. */
  private def annScale(c: Ctx): Unit = {
    import c._
    val annCorpus = staged(embeddingReplicas(rotate = false), "ann")
    val nVecs = annCorpus.count()
    val annQueries = fixture("embeddings", "vec_id", "embedding")
      .filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val ivfPath = tempDir("ivf").toString
    // the √n heuristic (autoCells) picks the list count; probe 1/8 of the
    // cells so the scored fraction matches the old fixed 8-of-64 config
    val cells = Similarity.autoCells(nVecs)
    val nProbe = math.max(1, cells / 8)
    // pass the pre-computed cell count: the label and the built index then
    // agree by construction, and ivfPqBuild skips its own corpus count
    val (buildSec, _) = timeOnce(Similarity.ivfPqBuild(annCorpus,
      "embedding", ivfPath, nCells = cells, m = 16, ksub = 16))
    // flat PQ amortized regime, same accounting: fit + encode paid once
    // (pq_encode_sec), the per-batch cost is the ADC scan over the
    // persisted (id, codes, norm) parquet — 16 byte-codes per row instead
    // of 64 floats — plus the exact re-rank of the bounded shortlist.
    val pqPath = tempDir("pq").resolve("encoded.parquet").toString
    val (pqEncodeSec, pqModel) = timeOnce {
      val model = Similarity.fitPq(annCorpus, "embedding", m = 16, ksub = 16)
      Similarity.pqEncode(annCorpus, "embedding", model).drop("embedding")
        .write.mode("overwrite").parquet(pqPath)
      model
    }
    val pqEncoded = spark.read.parquet(pqPath)
    val probePath = servedBy(Similarity.probePlan(spark, ivfPath, annQueries,
      "embedding", "vec_id", "query_id", k = 10, nProbe = nProbe,
      shortlistFactor = 8))
    val results = timeVariants(
      "brute_force" -> (() => Similarity.bruteForceTopK(
        annCorpus, annQueries, "embedding", "vec_id", "query_id",
        k = 10).count()),
      s"ivfpq_probe_nprobe${nProbe}_of$cells" -> (() => Similarity.ivfPqProbeTopK(
        spark, ivfPath, annQueries, "embedding", "vec_id", "query_id",
        k = 10, nProbe = nProbe, shortlistFactor = 8).count()),
      "pq_adc_m16" -> (() => Similarity.pqTopKEncoded(
        pqEncoded, annCorpus, pqModel, annQueries, "embedding", "vec_id",
        "query_id", k = 10, shortlistFactor = 8).count()))
    emit("ann_scale", obj("scale" -> scale, "vectors" -> nVecs, "queries" -> 20,
      "passes" -> passes, "index_build_sec" -> buildSec, "cells" -> cells,
      "pq_encode_sec" -> pqEncodeSec, "variants" -> perVariant(results, "rows"),
      "ivfpq_probe_path" -> probePath, "sf" -> sfDir))
  }

  /** Which path serves a planned IVF-PQ probe: "driver" or "spark". */
  private def servedBy(plan: Similarity.ProbePlan): String =
    if (plan.servedOnDriver) "driver" else "spark"

  /** The measurement behind [[Similarity]]'s driver-probe gate (opt-in):
    * warm top-10 probes (shortlist factor 16, `ann_serve`'s widths) of
    * 64-cell IVF-PQ indexes of 10 k, 50 k and 200 k 64-d vectors (rotated
    * embedding replicas), in batches of 1, 16, 64 and 256 queries, nProbe
    * 1…64, each timed through both serving paths
    * ([[Similarity.ProbePlan]]'s `onDriver` and `onSpark`, planning
    * included) with the gate's two measures: the probed part-file bytes
    * and their query-summed bytes. Each point is one warm-up run of
    * either path, then the min of `passes` runs. The driver's cost only
    * grows with nProbe, so a (vectors, batch) series stops after the
    * driver path has lost at two widths in a row. */
  private def probeGate(c: Ctx): Unit = {
    import c._
    val base = fixture("embeddings", "vec_id", "embedding")
    val baseRows = base.count()
    val rows = Seq(10000, 50000, 200000).flatMap { n =>
      val reps = math.max(1, math.ceil(n.toDouble / baseRows).toInt)
      val corpus = staged(embeddingReplicas(rotate = true, reps), "gate")
        .limit(n)
      val idx = tempDir("gate_idx").toString
      Similarity.ivfPqBuild(corpus, "embedding", idx, nCells = 64)
      Seq(1, 16, 64, 256).flatMap { nQueries =>
        val batch = base.filter(col("vec_id") < nQueries)
          .select(col("vec_id").as("query_id"), col("embedding"))
        // a local batch, as a service probes with: it collects without a job
        val queries = spark.createDataFrame(
          java.util.Arrays.asList(batch.collect(): _*), batch.schema)
        require(queries.count() == nQueries, s"fewer than $nQueries queries")
        var losses = 0
        Iterator(1, 2, 4, 8, 16, 32, 64).takeWhile(_ => losses < 2).map { nProbe =>
          def plan() = Similarity.probePlan(spark, idx, queries, "embedding",
            "vec_id", "query_id", k = 10, nProbe = nProbe,
            shortlistFactor = 16)
          val p = plan()
          def path(run: Similarity.ProbePlan => DataFrame): Double = {
            run(plan()).collect()
            timed(run(plan()).collect())._1
          }
          val driverSec = path(_.onDriver)
          val sparkSec = path(_.onSpark)
          losses = if (driverSec > sparkSec) losses + 1 else 0
          val row = obj("vectors" -> n, "queries" -> nQueries,
            "n_probe" -> nProbe, "bytes" -> p.bytes,
            "query_bytes" -> p.queryBytes, "driver_sec" -> driverSec,
            "spark_sec" -> sparkSec)
          println(row)
          row
        }.toList
      }
    }
    emit("probe_gate", obj("k" -> 10, "cells" -> 64,
      "shortlist_factor" -> 16, "passes" -> passes, "cpus" -> cpus,
      "gate_bytes" -> Similarity.DriverProbeBytes,
      "gate_query_bytes" -> Similarity.DriverProbeQueryBytes,
      "sweep" -> Json(rows.mkString("[", ",", "]")), "sf" -> sfDir))
  }

  /** The measurement behind [[Dedup]]'s driver gate for `minHashLsh`
    * (opt-in): warm `minHashLsh` calls (3-word shingles, threshold 0.5,
    * maxBucket 1000, `curate_sync`'s widths) over staged corpora whose
    * base grows ×2 per size, from 25 k words (`none`) or 5 k words
    * (`clumps`, before its copies), along three axes: words per document
    * (10, 50, 500 and 2000: consecutive letter-rotated sf0.1 documents
    * joined, then cut), the signature width (64 hashes in 16 bands, the
    * default, and 256 in 64, both 4 rows per band) and duplication
    * (`none`: no planted copies; `clumps`: a 2% coin with 63 exact copies
    * each, where the candidate pairs grow much faster than the
    * documents). Each point times both paths through the gated entry
    * point, construction and `count()` together: the driver path with
    * both bounds lifted, and the Spark path after the probe the real gate
    * runs (`serveOnDriver = false`), so a call over the gate pays its
    * probe here too. It records the gate's two measures
    * ([[Dedup.gateMeasures]]): the signature work (hash evaluations) and
    * the candidate-pair work. Each point is one warm-up run of either
    * path, then the min of `passes` runs; a series stops after the driver
    * path has lost at two sizes in a row. */
  private def dedupGate(c: Ctx): Unit = {
    import c._
    val docs = fixture("documents", "doc_id", "text")
    val baseRows = docs.count()
    val baseWords = docs.agg(avg(size(split(col("text"), " ")))).head.getDouble(0)
    // (shape, planted coin, copies, words of base corpus at the first size)
    val shapes = Seq(("none", 0.0, 0, 25000), ("clumps", 0.02, 63, 5000))
    val series = shapes.flatMap { case shape @ (name, _, _, _) =>
      val widths = if (name == "none") Seq(10, 50, 500, 2000) else Seq(10, 50, 500)
      widths.map((shape, _, 64)) ++ Seq(50, 500).map((shape, _, 256))
    }
    val rows = series.flatMap { case ((shape, rate, copies, first), words, hashes) =>
      val bands = hashes / 4
      val per = math.max(1, math.ceil(words / baseWords).toInt)
      var losses = 0
      Iterator.iterate(first)(_ * 2).take(9)
        .takeWhile(_ => losses < 2).map { total =>
          val n = math.max(1, total / words)
          val reps = math.max(1, math.ceil(n.toDouble * per / baseRows).toInt)
          val base = rotatedDocs(reps)
            .groupBy(floor(col("doc_id") / per).as("doc_id"))
            .agg(concat_ws(" ", sort_array(collect_list(col("text")))).as("text"))
            .select(col("doc_id"), concat_ws(" ",
              slice(split(col("text"), " "), 1, words)).as("text"))
            .limit(n)
          val planted = base.filter(coin("doc_id", rate))
          val corpus = staged((1 to copies).foldLeft(base) { (d, k) =>
            d.unionByName(planted.select(
              (col("doc_id") + k.toLong * plantOffset).as("doc_id"), col("text")))
          }, "dedup_gate")
          val nDocs = corpus.count()
          val (hashWork, pairWork) = Dedup.gateMeasures(corpus, "text", "doc_id",
            numHashes = hashes, bands = bands)
          def path(onDriver: Boolean): (Double, Long) = {
            def run() = (if (onDriver) Dedup.minHashLshGated(corpus, "text",
                "doc_id", numHashes = hashes, bands = bands,
                driverHashes = Long.MaxValue, driverPairWork = Long.MaxValue)
              else Dedup.minHashLshGated(corpus, "text", "doc_id",
                numHashes = hashes, bands = bands, serveOnDriver = false)).count()
            run()
            timed(run())
          }
          val (driverSec, pairs) = path(onDriver = true)
          val (sparkSec, sparkPairs) = path(onDriver = false)
          require(pairs == sparkPairs, s"paths disagree: $pairs vs $sparkPairs pairs")
          losses = if (driverSec > sparkSec) losses + 1 else 0
          val gated = hashWork <= Dedup.DriverHashes && pairWork <= Dedup.DriverPairWork
          val row = obj("shape" -> shape, "words" -> words, "num_hashes" -> hashes,
            "bands" -> bands, "docs" -> nDocs, "hash_work" -> hashWork,
            "pair_work" -> pairWork, "pairs" -> pairs, "driver_sec" -> driverSec,
            "spark_sec" -> sparkSec, "gate_serves" -> (if (gated) "driver" else "spark"))
          println(row)
          row
        }.toList
    }
    emit("dedup_gate", obj("passes" -> passes, "cpus" -> cpus,
      "gate_hashes" -> Dedup.DriverHashes, "gate_pair_work" -> Dedup.DriverPairWork,
      "sweep" -> Json(rows.mkString("[", ",", "]")), "sf" -> sfDir))
  }

  /** The measurement behind the opt-out deletes' key gate,
    * [[graft.core.DriverKeys.MaxKeys]] (opt-in): warm deletes of key
    * batches of 10 to 1 M ids, each a local relation (as an opt-out list
    * reaches the stores), against a 1 M-row SnapshotStore (BIGINT ids 0
    * to 1 M − 1, 32-char value, 16 buckets) and a 1 M-vector IVF-PQ index
    * (16-d, 64 cells), in two shapes: `half`, where a batch of n keys
    * steps over [0, 2 M), so about half of them match and the rewrite
    * grows with the batch, and `ten`, where 10 keys match and the rest
    * lie above the stored ids, so the rewrite stays put and the key set's
    * own cost shows. Each point times both paths through the gated entry
    * points, each run on a fresh copy of the store: the literal key set
    * (`driverKeys = n`) and the join plan after the collect a batch just
    * over the gate pays (`driverKeys = n − 1`). One warm-up run of each
    * path, then `passes` rounds that run both paths back to back,
    * alternating which goes first, so a drift in machine load falls on
    * both: each path's min, and the rounds the key set won
    * (`driver_wins`). A series stops after the driver path's min has lost
    * at two sizes in a row. */
  private def deleteGate(c: Ctx): Unit = {
    import c._
    import graft.core.DriverKeys
    import graft.sinks.SnapshotStore
    import spark.implicits._
    val rows = 1000000L
    val store = storePath("delete_gate_store")
    SnapshotStore.upsert(spark, store, spark.range(rows).select(col("id"),
        md5(col("id").cast("string")).as("value")),
      UpsertConfig(discriminant = Seq("id")), nBuckets = 16)
    val index = tempDir("delete_gate_index").resolve("index").toString
    Similarity.ivfPqBuild(spark.range(rows).select(col("id"),
        array((0 until 16).map(j => (rand(j) - 0.5).cast("float")): _*)
          .as("vec")), "vec", index, nCells = 64, m = 8, ksub = 16)
    def copy(from: String, to: String): Unit = {
      val dst = Paths.get(to)
      if (Files.exists(dst)) Files.walk(dst).sorted(java.util.Comparator
        .reverseOrder[Path]()).forEach(p => Files.delete(p))
      val src = Paths.get(from)
      Files.walk(src).forEach { f =>
        val t = dst.resolve(src.relativize(f))
        if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
      }
    }
    type Delete = (String, DataFrame, Int) => Long
    val stores = Seq[(String, String, Delete)](
      ("snapshot_store", store,
        (r, k, d) => SnapshotStore.deleteGated(spark, r, k, driverKeys = d)),
      ("ivf_pq_index", index,
        (r, k, d) => Similarity.indexDeleteGated(spark, r, k, driverKeys = d)))
    val sizes = Seq(10, 100, 1000, 3000, 10000, 30000, 100000, 300000, 1000000)
    val shapes = Seq[(String, (Long, Int) => Long)](
      ("half", (i, n) => i * (2 * rows / n)),
      ("ten", (i, _) => if (i < 10) i * (rows / 10) else rows + i))
    def series(name: String, src: String, delete: Delete, shape: String,
               key: (Long, Int) => Long): List[Json] = {
      val work = tempDir(s"delete_gate_$name").resolve("work").toString
      var losses = 0
      sizes.iterator.takeWhile(_ => losses < 2).map { n =>
        val keys = (0L until n).map(key(_, n)).toDF("id")
        def run(driverKeys: Int): (Double, Long) = {
          copy(src, work)
          val t0 = System.nanoTime()
          val deleted = delete(work, keys, driverKeys)
          ((System.nanoTime() - t0) / 1e9, deleted)
        }
        val (_, deleted) = run(n)
        val (_, sparkDeleted) = run(n - 1)
        require(deleted == sparkDeleted,
          s"paths disagree: $deleted vs $sparkDeleted rows")
        val rounds = (0 until passes).map { i =>
          if (i % 2 == 0) { val d = run(n)._1; (d, run(n - 1)._1) }
          else { val j = run(n - 1)._1; (run(n)._1, j) }
        }
        val driverSec = rounds.map(_._1).min
        val sparkSec = rounds.map(_._2).min
        losses = if (driverSec > sparkSec) losses + 1 else 0
        val row = obj("store" -> name, "shape" -> shape, "keys" -> n,
          "deleted" -> deleted, "driver_sec" -> driverSec,
          "spark_sec" -> sparkSec,
          "driver_wins" -> rounds.count { case (d, j) => d < j },
          "gate_serves" -> (if (n <= DriverKeys.MaxKeys) "driver" else "spark"))
        println(row)
        row
      }.toList
    }
    val points = for ((name, src, delete) <- stores; (shape, key) <- shapes;
                      point <- series(name, src, delete, shape, key)) yield point
    emit("delete_gate", obj("rows" -> rows, "passes" -> passes, "cpus" -> cpus,
      "gate_keys" -> DriverKeys.MaxKeys,
      "sweep" -> Json(points.mkString("[", ",", "]"))))
  }

  /** `Dedup.exactByFingerprint`'s plan under one heavily copied text
    * (opt-in): its window of the least id over the fingerprint sends every
    * copy of one text, with its row, to one task, where the aggregate +
    * `left_semi` join it replaced (kept here as `aggregate_join`) shrank
    * the copies in a partial aggregate and spread the full rows by
    * (fingerprint, id). Corpora of `rows` documents (a distinct ~150-byte
    * text each) in which a `share` of the rows carry one boilerplate
    * text of the same length under their own ids, staged as parquet; each
    * plan's full rows go to the noop sink (min of `passes` after one
    * warm-up). Both plans keep the same row count. */
  private def fingerprintSkew(c: Ctx): Unit = {
    import c._
    val filler = " lorem ipsum dolor sit amet" * 5
    def aggregateJoin(df: DataFrame): DataFrame = {
      val fp = df.withColumn("__fp", TF.fingerprint(col("text")))
      fp.join(fp.groupBy("__fp").agg(min("doc_id").as("doc_id")),
        Seq("__fp", "doc_id"), "left_semi").drop("__fp")
    }
    val plans = Seq[(String, DataFrame => DataFrame)](
      "window" -> (d => Dedup.exactByFingerprint(d, "text", "doc_id")),
      "aggregate_join" -> aggregateJoin)
    val corpora = Seq((1000000L, 0.1), (1000000L, 0.5), (3000000L, 0.1),
      (3000000L, 0.5))
    val points = for ((rows, share) <- corpora) yield {
      val docs = staged(spark.range(rows).select(col("id").as("doc_id"),
        when(pmod(col("id"), lit(100)) < lit((share * 100).round),
          lit(s"boilerplate$filler"))
          .otherwise(concat(lit("doc "), col("id").cast("string"), lit(filler)))
          .as("text")), s"fingerprint_skew_$rows")
      val timed = plans.map { case (name, plan) =>
        def run(): Unit = plan(docs).write.format("noop").mode("overwrite").save()
        run()
        name -> (minOfPasses(passes)(run())._1, plan(docs).count())
      }
      val kept = timed.map(_._2._2).distinct
      require(kept.size == 1, s"plans disagree: $timed")
      val row = obj("rows" -> rows, "share" -> share, "kept" -> kept.head,
        "window_sec" -> timed(0)._2._1, "aggregate_join_sec" -> timed(1)._2._1)
      println(row)
      row
    }
    emit("fingerprint_skew", obj("passes" -> passes, "cpus" -> cpus,
      "sweep" -> Json(points.mkString("[", ",", "]"))))
  }

  /** What the nProbe knob buys: sweep the probed-cell budget on a
    * persisted index at SCALE× and record recall@10 (vs brute force) and
    * wall per 20-query batch — the context for ivf_maintain's
    * partial-probe recall numbers. The shortlist is held deep (factor
    * 32) so the sweep isolates the probe width, not ADC truncation.
    * Replicas are array ROTATIONS of the base vectors (distinct
    * directions, same norm/coordinate distribution) rather than
    * ann_scale's verbatim copies: verbatim copies make every true
    * neighbor a co-located duplicate of the query's own cell — recall@10
    * degenerates to 1.0 at any probe budget. The base copies of the query
    * vectors are excluded from the corpus for the same reason. */
  private def ivfRecallCurve(c: Ctx): Unit = {
    import c._
    val rcCorpus = staged(embeddingReplicas(rotate = true), "ivf_rc")
      .filter(col("vec_id") >= 20)
    val nRcVecs = rcCorpus.count()
    val rcQueries = fixture("embeddings", "vec_id", "embedding")
      .filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val rcIdx = tempDir("ivf_rci").toString
    val rcCells = Similarity.autoCells(nRcVecs)
    Similarity.ivfPqBuild(rcCorpus, "embedding", rcIdx, nCells = rcCells,
      m = 16, ksub = 16)
    val rcBrute = Similarity.bruteForceTopK(rcCorpus, rcQueries,
        "embedding", "vec_id", "query_id", k = 10)
      .select("query_id", "vec_id").persist()
    val rcBruteN = rcBrute.count().toDouble
    val sweep = Seq(
      "cells_16th" -> math.max(1, rcCells / 16),
      "cells_8th" -> math.max(1, rcCells / 8),
      "cells_4th" -> math.max(1, rcCells / 4),
      "full" -> rcCells)
    val rcResults = sweep.map { case (label, np) =>
      val (secs, hits) = timed(Similarity.ivfPqProbeTopK(spark, rcIdx, rcQueries,
          "embedding", "vec_id", "query_id", k = 10, nProbe = np,
          shortlistFactor = 32)
        .select("query_id", "vec_id")
        .join(rcBrute, Seq("query_id", "vec_id"), "left_semi").count())
      val probePath = servedBy(Similarity.probePlan(spark, rcIdx, rcQueries,
        "embedding", "vec_id", "query_id", k = 10, nProbe = np,
        shortlistFactor = 32))
      label -> obj("n_probe" -> np, "sec" -> secs,
        "recall_at_10" -> hits / rcBruteN, "probe_path" -> probePath)
    }
    rcBrute.unpersist()
    emit("ivf_recall_curve", obj("scale" -> scale, "vectors" -> nRcVecs,
      "queries" -> 20, "cells" -> rcCells, "passes" -> passes,
      "variants" -> obj(rcResults: _*), "sf" -> sfDir))
  }

  /** Rotated embedding replicas plus ×2-scaled planted copies of a 10% md5
    * coin (ids above every replica band): the planted-duplicate corpus of
    * embcos_scale and semdedup_scale, with its base and planted counts. */
  private def plantedEmbeddings(c: Ctx, tag: String): (DataFrame, Long, Long) = {
    import c._
    val base = staged(embeddingReplicas(rotate = true), tag)
    val planted = base.filter(coin("vec_id", 0.1))
    val corpus = base.unionByName(planted
      .select((col("vec_id") + plantOffset).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
    (corpus, base.count(), planted.count())
  }

  /** The redesigned embcos_pairs regime at SCALE×: selective sign-LSH
    * banding (12 planes × 4 tables) + planted ×2-scaled duplicates of a
    * 10% md5 coin. Claims under test: planted recall stays exactly 1.0
    * (structural — identical hyperplane signs — not statistical) and
    * wall stays corpus-linear: candidates are the planted pairs plus the
    * ~0.1% random-collision floor, never the half-of-all-pairs a
    * recall-dense threshold-0.4 banding produces. Replicas are rotations
    * (distinct directions), as in ivf_recall_curve. */
  private def embcosScale(c: Ctx): Unit = {
    import c._
    val (corpus, nVecs, nPlanted) = plantedEmbeddings(c, "embsc")
    val (secs, found) = timedCold(Dedup.embeddingCosine(corpus, "embedding",
        "vec_id", threshold = 0.9, nPlanes = 12, tables = 4)
      .filter(col("id_b") - col("id_a") === plantOffset).count())
    emit("embcos_scale", obj("scale" -> scale, "vectors" -> nVecs,
      "planted" -> nPlanted, "passes" -> passes, "sec" -> secs,
      "planted_found" -> found, "planted_recall" -> found.toDouble / nPlanted,
      "sf" -> sfDir))
  }

  /** Cluster-then-prune (SemDeDup) + kNN graph at SCALE×, same planted
    * corpus construction as embcos_scale. Claims under test: (a) planted
    * recall under the OPERATOR DEFAULTS (maxCell cap live, auto cells)
    * stays at 1.0 — rotated replicas spread directions, so cells stay
    * near the n/nCells mean instead of collapsing onto a few directions
    * and tripping the cap; (b) wall tracks the within-cell candidate
    * volume ~n²/nCells, the published cluster-prune cost model; (c) the
    * kNN-graph build (knnJoin, nProbe = 1) over the same corpus stays in
    * the same wall band — it scores the same cells, bounded by the
    * map-side top-k aggregate instead of a pair filter. */
  private def semdedupScale(c: Ctx): Unit = {
    import c._
    val (corpus, nVecs, nPlanted) = plantedEmbeddings(c, "sdsc")
    val (pairSec, found) = timedCold(Dedup.semanticDedupPairs(corpus,
        "embedding", "vec_id", threshold = 0.9)
      .filter(col("id_b") - col("id_a") === plantOffset).count())
    val (knnSec, edges) = timedCold(
      Similarity.knnJoin(corpus, "embedding", "vec_id", k = 3).count())
    emit("semdedup_scale", obj("scale" -> scale, "vectors" -> nVecs,
      "planted" -> nPlanted, "passes" -> passes, "sec_pairs" -> pairSec,
      "planted_found" -> found, "planted_recall" -> found.toDouble / nPlanted,
      "sec_knn" -> knnSec, "knn_edges" -> edges, "sf" -> sfDir))
  }

  /** Packing under shard skew: packSequences' parallelism is the shard
    * count (one O(1)-state walker per shard), so its worst case is a
    * shard holding a disproportionate share of the corpus — that walker
    * runs serially over its whole shard. Measured shapes: 64 uniform
    * shards vs one shard holding 50% of all documents (the other half
    * spread over 63). The probe records the wall-time ratio; the guard
    * decision (split hot shards, e.g. by sub-sharding on id ranges) is
    * taken only if the ratio demands it — see PLANS.md. */
  private def packingSkew(c: Ctx): Unit = {
    import c._
    val docs = fixture("documents", "doc_id", "text")
    val packBase = staged(replicas()(i => docs.select(offset("doc_id", i),
      TF.tokenCount(col("text")).cast("long").as("n_tokens"))), "pack")
    val nPackDocs = packBase.count()
    val results = Seq(
      // 64 uniform shards: every walker gets ~1/64 of the corpus
      "uniform_64" -> pmod(col("doc_id"), lit(64)).cast("int"),
      // hot shard: even ids (50% of docs) all in shard 0
      "skewed_50pct" -> when(col("doc_id") % 2 === 0, lit(0))
        .otherwise(pmod(col("doc_id"), lit(63)).cast("int") + 1)
    ).map { case (name, shardExpr) =>
      name -> timed(Packing.packSequences(
          packBase.withColumn("shard", shardExpr),
          "doc_id", "n_tokens", capacity = 2048L, shardCol = "shard")
        .select(countDistinct(col("shard"), col("seq")))
        .as[Long](spark.implicits.newLongEncoder).head())
    }
    emit("packing_skew", obj("scale" -> scale, "docs" -> nPackDocs,
      "passes" -> passes, "capacity" -> 2048,
      "variants" -> perVariant(results, "bins"), "sf" -> sfDir))
  }

  /** Verbatim-span forensics at SCALE×: the positional-gram self-join is
    * the same inverted-index family as pair_join_scale (letter-rotated
    * replicas keep gram sets disjoint, so workload scales linearly) plus
    * the per-(pair, diagonal) window. The claim under test: wall time
    * stays corpus-linear under the maxDf stop-gram guard — no quadratic
    * term from the positional explode (duplicates kept, unlike the
    * deduplicating shingle operators). */
  private def sharedSpansScale(c: Ctx): Unit = {
    import c._
    val spanBase = staged(rotatedDocs(), "spans")
    val nSpanDocs = spanBase.count()
    val (secs, rows) = timedCold(Dedup.sharedSpans(spanBase, "text", "doc_id",
      shingleSize = 6, minSpanTokens = 12, maxDf = 1000L * scale).count())
    emit("shared_spans_scale", obj("scale" -> scale, "docs" -> nSpanDocs,
      "passes" -> passes, "sec" -> secs, "rows" -> rows, "sf" -> sfDir))
  }

  /** Image near-dup at SCALE×: synthesize one 64×64 block-texture PNG per
    * document (replicas get per-replica payload salts, so their dHashes
    * are independent — pair structure stays per-replica, workload scales
    * linearly), plant a 48×48 resized copy of every image, and measure
    * imageDHashPairs wall time + planted recall at 2·docs·SCALE images.
    * The claim under test: the codec chain is corpus-linear scan-side
    * work and candidate generation stays banded (no quadratic blowup as
    * the image count grows). */
  private def imageDedupScale(c: Ctx): Unit = {
    import c._
    val iBase = staged(taggedDocs("salt"), "imgscale")
    val nImgDocs = iBase.count()
    val png = concat(unhex(md5(col("text"))),
      unhex(md5(concat(lit("a"), col("text")))),
      unhex(md5(concat(lit("b"), col("text")))),
      unhex(md5(concat(lit("c"), col("text")))))
    val (secs, found) = timedCold {
      val orig = iBase.select(col("doc_id"),
          graft.functions.GrayPngExpr(png, 64, 64, 8).as("png"))
        .persist()
      val dup = orig.select((col("doc_id") + lit(plantOffset)).as("doc_id"),
        graft.functions.ImageResizeExpr(col("png"), 48, 48).as("png"))
      val planted = Dedup.imageDHashPairs(orig.unionByName(dup), "png",
          "doc_id", chunks = 8, maxHamming = 6)
        .filter(col("id_b") - col("id_a") === plantOffset).count()
      orig.unpersist()
      planted
    }
    emit("image_dedup_scale", obj("scale" -> scale, "docs" -> nImgDocs,
      "images" -> 2 * nImgDocs, "passes" -> passes, "sec" -> secs,
      "planted_found" -> found, "planted_recall" -> found.toDouble / nImgDocs,
      "sf" -> sfDir))
  }

  /** The two event-time join shapes at SCALE×: the union-and-carry as-of
    * join (one key shuffle + one window pass, Joins.asOfJoin) and the
    * banded interval join (plain equi-join on (user, time-bin), ≤3 bin
    * probes per left row, Joins.bandedIntervalJoin). Replicas shift
    * user_id into disjoint bands — per-user event counts and time density
    * are unchanged, so match structure stays per-replica and the workload
    * (shuffle rows, window length, bin fan-out) scales linearly the way a
    * larger user population would. Claims under test: output rows are
    * EXACTLY scale× the base (disjoint bands make this structural) and
    * wall grows ~linearly — no per-key blowup hides in the window pass or
    * the bin explode. Ingestion is fixture-vintage-proof via
    * Tables.withEventTimestamp (round-11 regeneration postmortem). */
  private def eventsScale(c: Ctx): Unit = {
    import c._
    val cols = Seq("event_id", "ts", "user_id", "event_type")
    val ev0 = events(cols: _*)
    val evBig = staged(eventReplicas(100000000L, cols: _*), "evsc")
    val nEv = evBig.count()
    def asofRows(ev: DataFrame): Long = {
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      Joins.asOfJoin(purchases, clicks, Seq("user_id"), "ts", "click_ts")
        .count()
    }
    def intervalRows(ev: DataFrame): Long = {
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      Joins.bandedIntervalJoin(clicks, views, "user_id", "ts", "ts",
        lowerSec = 0L, upperSec = 600L).count()
    }
    val (asofBaseSec, asofBase) = timedCold(asofRows(ev0))
    val (asofBigSec, asofBig) = timedCold(asofRows(evBig))
    val (intBaseSec, intBase) = timedCold(intervalRows(ev0))
    val (intBigSec, intBig) = timedCold(intervalRows(evBig))
    emit("events_scale", obj("scale" -> scale, "events" -> nEv, "passes" -> passes,
      "asof_base_sec" -> asofBaseSec, "asof_scaled_sec" -> asofBigSec,
      "asof_rows_base" -> asofBase, "asof_rows_scaled" -> asofBig,
      "interval_base_sec" -> intBaseSec, "interval_scaled_sec" -> intBigSec,
      "interval_rows_base" -> intBase, "interval_rows_scaled" -> intBig,
      "rows_exactly_linear" -> (asofBig == scale * asofBase && intBig == scale * intBase),
      "sf" -> sfDir))
  }

  /** Char-LM quality scoring at SCALE×: the model pass (explode →
    * map-side-combined gram counts → TakeOrderedAndProject topV cut) and
    * the scoring pass (broadcast model join into the exploded scan →
    * per-doc re-agg) are both corpus-linear by construction; this
    * measures it. Letter-rotated replicas keep per-replica gram
    * distributions distinct (a verbatim copy would just multiply every
    * count by SCALE and leave the model identical — too easy), the same
    * trick as pair_join_scale. */
  private def charlmScale(c: Ctx): Unit = {
    import c._
    val lmBase = staged(rotatedDocs(), "lmsc")
    val nLmDocs = lmBase.count()
    // stage the 1× corpus identically (same partition count, same source
    // layout) — the raw fixture is a single file whose few splits would
    // under-parallelize the base leg and fake a sublinear ratio
    val lmSmallDf = staged(fixture("documents", "doc_id", "text"), "lmsc_base")
    // the action must READ the score columns: a bare count() of the final
    // unique-key left join lets Catalyst eliminate the join and prune the
    // whole model+score computation away (measured: 10× the docs, same
    // wall). Summing the outputs forces every stage to run.
    def lmRows(docs: DataFrame): Long = graft.operators.CorpusStats
      .charLmScore(docs, "text", "doc_id", n = 3, topV = 5000)
      .agg(count(lit(1)).as("rows"), sum("freq_sum"), sum("oov"))
      .collect()(0).getLong(0)
    // discarded: JIT/codegen warmup must not bill the 1× leg
    spark.catalog.clearCache()
    lmRows(lmSmallDf)
    val (smallSec, smallRows) = timedCold(lmRows(lmSmallDf))
    val (bigSec, bigRows) = timedCold(lmRows(lmBase))
    emit("charlm_scale", obj("scale" -> scale, "docs" -> nLmDocs, "passes" -> passes,
      "base_sec" -> smallSec, "scaled_sec" -> bigSec,
      "rows_base" -> smallRows, "rows_scaled" -> bigRows,
      "rows_exactly_linear" -> (bigRows == scale * smallRows), "sf" -> sfDir))
  }

  /** MG sketch + restricted recount vs the full-vocabulary group-by at
    * SCALE×. Both are EXACT (the MG n/(k+1) survival guarantee makes
    * sketch+recount a proven superset, recounted exactly), so the
    * verified claim is OUTPUT IDENTITY; the timing records the cost trade
    * honestly. MEASURED at 10× (4M tokens, ~10× vocabulary, single box):
    * sketch 2.0s vs full group-by 1.1s — at local scale the vocabulary
    * exchange is in-memory-cheap and MG's per-token hash-map update
    * dominates. The sketch path's advantage is its EXCHANGE VOLUME —
    * O(k·partitions) buffers + a ≤k-key recount vs O(distinct tokens)
    * shuffled rows — which pays off when the vocabulary exchange is
    * network-bound and memory-pressured (billions of distinct tokens
    * across executors), not when it fits a single box's shuffle. Replicas
    * rotate the alphabet so the vocabulary grows with scale (each
    * rotation dilutes every token's share by 1/scale), hence the lower
    * φ = 0.05% threshold with k = 4000 (1/(k+1) = 0.025% < φ keeps the
    * guarantee strict). */
  private def heavyHittersScale(c: Ctx): Unit = {
    import c._
    val texts = staged(rotatedDocs().select("text"), "hhsc")
    def hhToks = texts.select(TF.tokens(lower(col("text"))).as("__toks"))
    def hhFlat = hhToks.select(explode(col("__toks")).as("tok"))
    def hhTotal = hhFlat.agg(count(lit(1)).as("__n"))
    def frequent(counts: DataFrame): DataFrame = counts.crossJoin(hhTotal)
      .filter(col("cnt") * 10000 >= col("__n") * 5 && col("tok") =!= "")
      .select("tok", "cnt")
    def sketchRecount(): DataFrame = {
      val cands = hhToks
        .agg(graft.functions.MisraGriesAgg(col("__toks"), 4000).as("__mg"))
        .select(explode(col("__mg")).as("__c"))
        .select(col("__c.item").as("tok"))
      frequent(hhFlat.join(broadcast(cands), Seq("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt")))
    }
    def fullGroupBy(): DataFrame =
      frequent(hhFlat.groupBy("tok").agg(count(lit(1)).as("cnt")))
    def rowSet(df: DataFrame): Set[(String, Long)] =
      df.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val (sketchSec, sketch) = timedCold(rowSet(sketchRecount()))
    val (fullSec, full) = timedCold(rowSet(fullGroupBy()))
    emit("heavy_hitters_scale", obj("scale" -> scale, "passes" -> passes,
      "sec_sketch_recount" -> sketchSec, "sec_full_groupby" -> fullSec,
      "rows" -> sketch.size, "outputs_identical" -> (sketch == full), "sf" -> sfDir))
  }

  /** +50% mass concentrated near ONE direction (0.7·hot + 0.3·vᵢ blends of
    * a seeded half-sample — distinct vectors, one dense region): the
    * "distribution shifted" regime ivfPqAppend warns about. */
  private def hotDrift(corpus0: DataFrame): DataFrame = {
    val hotVec = corpus0.orderBy("vec_id").limit(1)
      .select(col("embedding").as("__hot"))
    corpus0.sample(withReplacement = false, 0.5, 42)
      .crossJoin(broadcast(hotVec))
      .select((col("vec_id") + 900000000L).as("vec_id"),
        transform(zip_with(col("embedding"), col("__hot"),
          (a, b) => a * lit(0.3) + b * lit(0.7)),
          x => x.cast("float")).as("embedding"))
  }

  /** recall@10 of the index's DEFAULT-width probe (the calibrated widths
    * once pqcal.json exists) against brute force over `corpus`. */
  private def defaultRecall(spark: SparkSession, idx: String, corpus: DataFrame,
                            queries: DataFrame): Double = {
    val brute = Similarity.bruteForceTopK(corpus, queries,
      "embedding", "vec_id", "query_id", k = 10).select("query_id", "vec_id")
    val probe = Similarity.ivfPqProbeTopK(spark, idx, queries,
      "embedding", "vec_id", "query_id", k = 10).select("query_id", "vec_id")
    probe.join(brute, Seq("query_id", "vec_id"), "left_semi").count()
      .toDouble / brute.count()
  }

  /** Index drift: build the index, append [[hotDrift]] mass, and measure
    * default-width recall@10 and cell skew before the append, after it,
    * and after ivfPqMaintain's automatic rebuild. The claim under test:
    * maintain notices the skew, refits quantizer and codebooks on the
    * drifted distribution, and recall/balance recover without manual
    * intervention. Maintain runs WITH a recall target, so "maintained"
    * recall reflects the widths ivfPqCalibrate chose for the rebuilt
    * index. */
  private def ivfMaintain(c: Ctx): Unit = {
    import c._
    val emb = fixture("embeddings", "vec_id", "embedding")
    val idx = tempDir("ivf_mnt").toString
    val mq = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val corpus0 = emb.filter(col("vec_id") >= 20)
    def skewNow(): Double = {
      val counts = Similarity.ivfCellStats(spark, idx)
        .select("n").as[Long](spark.implicits.newLongEncoder).collect()
      val nCells = spark.read.parquet(s"$idx/centroids").count()
      counts.max.toDouble / (counts.sum.toDouble / nCells)
    }
    Similarity.ivfPqBuild(corpus0, "embedding", idx, m = 16, ksub = 16)
    val recallBase = defaultRecall(spark, idx, corpus0, mq)
    val skewBase = skewNow()
    val appended = hotDrift(corpus0)
    Similarity.ivfPqAppend(appended, "embedding", idx)
    // the appended expression is deterministic (seeded sample, fixed
    // blend), so the union reconstructs the grown corpus without reading
    // back the index directory the rebuild below will replace
    val grown = corpus0.unionByName(appended)
    val recallDrifted = defaultRecall(spark, idx, grown, mq)
    val skewDrifted = skewNow()
    val target = 0.9
    // maxSkew is in build-time units (ratio vs the recorded fit_skew)
    val (maintainSec, decision) = timeOnce(Similarity.ivfPqMaintain(spark, idx,
      "embedding", maxSkew = 2.0, recallTarget = Some(target), idCol = "vec_id",
      maxShortlistFactor = 256))
    val (nProbe, factor) =
      Similarity.calibratedPqWidths(spark, idx).getOrElse((-1, -1))
    emit("ivf_maintain", obj("index" -> "ivf-pq", "base_vectors" -> corpus0.count(),
      "appended" -> appended.count(), "decision" -> decision,
      "maintain_sec" -> maintainSec, "recall_target" -> target,
      "calibrated_nprobe" -> nProbe, "calibrated_shortlist_factor" -> factor,
      "recall" -> obj("base" -> recallBase, "drifted" -> recallDrifted,
        "maintained" -> defaultRecall(spark, idx, grown, mq)),
      "skew" -> obj("base" -> skewBase, "drifted" -> skewDrifted,
        "maintained" -> skewNow()),
      "sf" -> sfDir))
  }

  /** Recall-targeted width calibration on DRIFTED data — the operational
    * answer to ivf_maintain's finding that default-width recall collapses
    * once appended mass concentrates: instead of a table and caller
    * judgment, ivfPqCalibrate measures the index's own recall over the
    * (nProbe, shortlist) plane (one bounded self-sample) and persists the
    * widths that meet the target, which ivfPqProbeTopK's defaults then
    * use. Claims under test: (a) on the drifted, UN-rebuilt index the
    * calibrated defaults restore recall ≥ target for corpus-distribution
    * queries; (b) after ivfPqMaintain(recallTarget=…) rebuilds, the
    * post-rebuild recalibration holds the target on the refit model too. */
  private def ivfAutotune(c: Ctx): Unit = {
    import c._
    val emb = fixture("embeddings", "vec_id", "embedding")
    val idx = tempDir("ivf_at").toString
    val baseQ = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val corpus0 = emb.filter(col("vec_id") >= 20)
    val target = 0.9
    // the shortlist cap is raised for the same reason as in pq_drift: a
    // 0.9 target on a drifted corpus can be cap-bound at the default 64
    val maxFactor = 256
    Similarity.ivfPqBuild(corpus0, "embedding", idx, m = 16, ksub = 16)
    // same drift recipe as ivf_maintain
    val appended = hotDrift(corpus0)
    Similarity.ivfPqAppend(appended, "embedding", idx)
    val grown = corpus0.unionByName(appended)
    // corpus-distribution queries (20 members of the drifted corpus) —
    // the population the self-sample calibration speaks for; baseQ is the
    // out-of-distribution comparison set
    val selfQ = grown.filter(col("vec_id") % 37 === 0).limit(20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def recalls() = (defaultRecall(spark, idx, grown, selfQ),
      defaultRecall(spark, idx, grown, baseQ))
    val (uncalSelf, uncalBase) = recalls()
    val (calSec, (chosen, chosenFactor)) = timeOnce(Similarity.ivfPqCalibrate(
      spark, idx, "embedding", "vec_id", target = target, k = 10,
      sampleQueries = 64, maxShortlistFactor = maxFactor))
    val (calSelf, calBase) = recalls()
    // maintain with a recall target: rebuild on the drifted distribution,
    // then the post-rebuild recalibration must hold the target as well
    val decision = Similarity.ivfPqMaintain(spark, idx, "embedding",
      maxSkew = 2.0, recallTarget = Some(target), idCol = "vec_id",
      maxShortlistFactor = maxFactor)
    val (chosenAfter, factorAfter) =
      Similarity.calibratedPqWidths(spark, idx).getOrElse((-1, -1))
    val cellsAfter = spark.read.parquet(s"$idx/centroids").count()
    val (mntSelf, mntBase) = recalls()
    emit("ivf_autotune", obj("index" -> "ivf-pq", "vectors" -> grown.count(),
      "target" -> target, "calibrate_sec" -> calSec,
      "chosen_nprobe" -> chosen, "chosen_shortlist_factor" -> chosenFactor,
      "decision" -> decision,
      "chosen_nprobe_after_rebuild" -> chosenAfter,
      "chosen_shortlist_factor_after_rebuild" -> factorAfter,
      "cells_after_rebuild" -> cellsAfter,
      "recall_self_queries" -> obj("uncalibrated" -> uncalSelf,
        "calibrated" -> calSelf, "maintained" -> mntSelf),
      "recall_base_queries" -> obj("uncalibrated" -> uncalBase,
        "calibrated" -> calBase, "maintained" -> mntBase),
      "sf" -> sfDir))
  }

  /** Codebook drift: ivfPqAppend encodes appended mass with the FROZEN
    * codebooks, and a shifted distribution quantizes badly — ADC
    * shortlist quality (hence recall) degrades gradually and SILENTLY,
    * because the exact re-rank keeps returned scores exact for whatever
    * the damaged shortlist retrieves. The claim under test: the
    * quantization-error gauge (ivfPqDriftStats, bounded sample — never a
    * full scan) reads ~1 fresh, detects the drift, ivfPqMaintain's staged
    * rebuild refits quantizer + codebooks on the current distribution,
    * and both the gauge AND partial-probe recall recover automatically —
    * mirroring ivf_maintain for the PQ half of the index, the last
    * maintenance-doctrine hole (r15 verdict). */
  private def pqDrift(c: Ctx): Unit = {
    import c._
    val embP = fixture("embeddings", "vec_id", "embedding")
    val elemP = embP.schema("embedding").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    val pqdPath = tempDir("pq_drift").toString
    val corpus0P = embP.filter(col("vec_id") >= 20)
    // Drifted ingest regime = ×3 scale + alternating per-dim sign flip:
    // an orthogonal-reflection-plus-scale, so the shifted set's INTERNAL
    // cosine geometry is exactly the original's (diverse, rankable) while
    // every subvector sits scaled and reflected outside the fitted
    // codebooks' range — their codes collapse onto boundary sub-centroids,
    // the silent ADC damage under test. (A plain additive offset makes
    // all drifted rows near-parallel, and a plain scale makes each row an
    // exact cosine TIE of its original — both turn top-k into a
    // tie-ranking task recall cannot measure.)
    def shiftP(df: DataFrame): DataFrame =
      df.select((col("vec_id") + 900000000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x * lit(3.0) * when(i % 2 === 0, lit(1.0)).otherwise(lit(-1.0)))
            .cast(elemP))
          .as("embedding"))
    // queries from BOTH regimes; note the drifted corpus half is SCALED
    // (see shiftP) so its cosine geometry stays diverse — the probe
    // measures shortlist damage from quantization, not a degenerate
    // all-ties ranking task
    val mqP = embP.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
      .unionByName(shiftP(embP.filter(col("vec_id") < 10))
        .select(col("vec_id").as("query_id"), col("embedding")))
    // recall split by QUERY REGIME (original vs drifted ids): the frozen
    // codebooks only damage the drifted regime's shortlists — original-
    // regime queries dilute the aggregate, so the per-regime numbers are
    // the story
    // per-regime recall of ONE probe-width policy (shared by the fixed-
    // width and calibrated-default series, so their arithmetic can never
    // diverge): fixedWidths pins quarter-cells/factor-4 — re-read per
    // call so pre- and post-rebuild indexes (different cell counts) get
    // the same relative width; unpinned (0, 0) reads the index's
    // CURRENT defaults, i.e. the calibrated widths once pqcal.json lands
    def recallWith(corpusNow: DataFrame, fixedWidths: Boolean): (Double, Double) = {
      val cellsNow = spark.read.parquet(s"$pqdPath/centroids").count().toInt
      val brute = Similarity.bruteForceTopK(corpusNow, mqP,
        "embedding", "vec_id", "query_id", k = 10)
        .select("query_id", "vec_id")
      val probe = Similarity.ivfPqProbeTopK(spark, pqdPath, mqP,
        "embedding", "vec_id", "query_id", k = 10,
        nProbe = if (fixedWidths) math.max(1, cellsNow / 4) else 0,
        shortlistFactor = if (fixedWidths) 4 else 0)
        .select("query_id", "vec_id")
      def r(drifted: Boolean): Double = {
        val side = (q: DataFrame) =>
          q.filter(if (drifted) col("query_id") >= 900000000L
            else col("query_id") < 900000000L)
        side(probe).join(side(brute), Seq("query_id", "vec_id"), "left_semi")
          .count().toDouble / math.max(1L, side(brute).count())
      }
      (r(drifted = false), r(drifted = true))
    }
    // the FIXED-width recall series — post-calibration the defaults
    // become the calibrated widths, measured separately below; an
    // unpinned call here would silently mix the two series
    def recallP(corpusNow: DataFrame): (Double, Double) =
      recallWith(corpusNow, fixedWidths = true)
    def mqe(): Double = Similarity.ivfPqDriftStats(spark, pqdPath, "embedding").ratio
    Similarity.ivfPqBuild(corpus0P, "embedding", pqdPath, m = 16, ksub = 16)
    val ratioBaseP = mqe()
    val (recallBaseP, _) = recallP(corpus0P) // no drifted rows/queries yet
    val appendedP = shiftP(corpus0P)
    Similarity.ivfPqAppend(appendedP, "embedding", pqdPath)
    val grownP = corpus0P.unionByName(appendedP)
    val ratioDriftP = mqe()
    val (recallDriftOrigP, recallDriftShiftP) = recallP(grownP)
    // maintain WITH a recall target: the rebuild refits quantizer +
    // codebooks AND recalibrates both probe widths (nProbe, shortlist
    // factor) against the rebuilt index via ivfPqCalibrate — the r16
    // finding was that the rebuild restores MQE but recall stays below
    // base at FIXED widths, because fixed widths are a stale tuning for
    // the doubled corpus, not residual codebook damage
    val mntTargetP = 0.9
    // maxShortlistFactor raised from the 64 default: r17 measured the
    // calibration CAP-BOUND on this two-regime corpus (pqcal.json
    // recorded measured_recall 0.872 at nprobe=all-cells and factor=64 —
    // the documented shortfall fallback), so no confidence margin could
    // reach the target; the binding constraint was the cap. The deeper
    // re-rank is the honest price of a 0.9 target on a drifted corpus:
    // shortlist factor sizes only the exact re-rank's fan-in (Q·S·k
    // broadcast rows), not the scanned fraction — nProbe still owns
    // scan cost — so it stays O(queries), corpus-size-independent.
    val (maintainSecP, decisionP) = timeOnce(Similarity.ivfPqMaintain(spark,
      pqdPath, "embedding", recallTarget = Some(mntTargetP), idCol = "vec_id",
      maxShortlistFactor = 256))
    val decisionAfterP = Similarity.ivfPqMaintain(spark, pqdPath, "embedding")
    val ratioAfterP = mqe()
    val (recallAfterOrigP, recallAfterShiftP) = recallP(grownP)
    val (calNProbeP, calFactorP) = Similarity
      .calibratedPqWidths(spark, pqdPath).getOrElse((0, 0))
    // recall of the DEFAULT-width probe — post-calibration, the widths
    // ivfPqCalibrate chose for the target (same arithmetic as the fixed
    // series: recallWith)
    val (recallCalOrigP, recallCalShiftP) =
      recallWith(grownP, fixedWidths = false)
    // reading the numbers: drift damages BOTH regimes' recall (garbage
    // codes can score spuriously high and displace true candidates from
    // every query's bounded shortlist, not just drifted queries'), and
    // the rebuild lifts both. The SPLIT the three recall blocks expose:
    //  - recoverable codebook damage = recall_maintained − recall_drifted
    //    (same fixed quarter-width probe, fresh vs drifted codebooks);
    //  - inherent corpus shift = recall_base − recall_maintained at the
    //    SAME fixed widths (the doubled corpus halves per-regime code
    //    capacity at fixed m/ksub and adds competitors — a capacity/
    //    tuning fact, NOT residual drift: the MQE gauge is back to ~1);
    //  - recall_calibrated shows the tuning half of that shift is
    //    recoverable by paying width: the post-rebuild calibration picks
    //    (nprobe, shortlist) meeting the stated target on the grown
    //    corpus.
    val signal = decisionP == "rebuilt" && decisionAfterP == "ok" &&
      ratioDriftP > 2.0 && ratioAfterP < 1.5 &&
      // the fixed-width maintained-recall series is DIAGNOSTIC (it
      // fluctuates with the k-means draw: 0.35-0.44 measured across
      // runs, one draw landing 0.01 above the drifted 0.34) — the
      // recovery CONTRACT is the calibrated series, gated strictly at
      // the target on BOTH regimes; the fixed-width leg only guards
      // against a rebuild that makes things outright WORSE
      recallAfterShiftP >= recallDriftShiftP - 0.05 &&
      recallCalOrigP >= mntTargetP && recallCalShiftP >= mntTargetP
    def regimes(orig: Double, drift: Double) =
      obj("orig_queries" -> orig, "drift_queries" -> drift)
    emit("pq_drift", obj("base_vectors" -> corpus0P.count(),
      "appended" -> appendedP.count(),
      "decision" -> decisionP, "decision_after" -> decisionAfterP,
      "maintain_sec" -> maintainSecP,
      "mqe_ratio" -> obj("base" -> ratioBaseP, "drifted" -> ratioDriftP,
        "maintained" -> ratioAfterP),
      "recall_base" -> recallBaseP,
      "recall_drifted" -> regimes(recallDriftOrigP, recallDriftShiftP),
      "recall_maintained" -> regimes(recallAfterOrigP, recallAfterShiftP),
      "recall_target" -> mntTargetP,
      "calibrated" -> obj("nprobe" -> calNProbeP, "shortlist_factor" -> calFactorP),
      "recall_calibrated" -> regimes(recallCalOrigP, recallCalShiftP),
      "signal" -> signal,
      "sf" -> sfDir))
  }

  /** The events replicas the skew probes share: user_id bands offset by
    * i·1e6, and a hot variant whose user 1 receives every event with
    * event_id mod 10 < tenths. */
  private def hotUsers(df: DataFrame, tenths: Int): DataFrame =
    if (tenths == 0) df
    else df.withColumn("user_id",
      when(pmod(col("event_id"), lit(10)) < tenths, lit(1L)).otherwise(col("user_id")))

  /** Hot-key resilience of the as-of/window family: asOfJoin's
    * union-and-carry, sessionize's lag+running-sum and gap_fill's
    * grid+carry all exchange on the KEY alone, so a hot key is ONE
    * straggler partition whose wall is that key's share of the work.
    * Plant 10% of all event mass on a single user (vs the uniform replica
    * corpus) and measure the wall ratio per shape at SCALE×. Ratios near
    * the hot share's task-count math (one task doing 10% of rows vs 1/32
    * each ≈ 3x on the window stage) mean the plans degrade
    * PROPORTIONALLY — no quadratic cliff — which is the documented bound;
    * a salted two-phase carry only pays once one key dominates the corpus
    * outright. */
  private def asofSkew(c: Ctx): Unit = {
    import c._
    val evScaled = eventReplicas(1000000L, "event_id", "user_id", "event_type", "ts", "value")
    val uniform = staged(evScaled, "skew_uni")
    // one user receives every Nth row's mass — hot shares of 10% AND 40%
    // (the round-13 brief's harsher point, hunting the cliff)
    def hotAt(tenths: Int) = staged(hotUsers(evScaled, tenths), s"skew_hot$tenths")
    // count(click_id) reads the carried payload: a bare count() lets
    // column pruning drop the match column and with it the entire
    // carry window (measured: 0.25s "as-of" over 5M rows — the scan
    // alone), the same guard chargram_lm's bench entry documents. The
    // matched count doubles as a per-corpus cross-check: the bucketed
    // plan must reproduce the plain carry's matches exactly (require
    // below), so a fix-up regression fails the probe loudly instead of
    // shipping a timed-but-wrong artifact.
    def asofMatches(ev: DataFrame, bucketed: Boolean): Long = {
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val joined =
        if (bucketed)
          // the hot-key escape hatch: hourly buckets (~720 over the
          // fixture's 30-day span), so the hot key's carry splits
          Joins.asOfJoinBucketed(p, clicks, Seq("user_id"), "ts", "click_ts",
            Joins.timeBuckets(3600L))
        else Joins.asOfJoin(p, clicks, Seq("user_id"), "ts", "click_ts")
      joined.agg(count(col("click_id"))).head().getLong(0)
    }
    // same cross-check discipline as the as-of pair: session-count
    // equality between the plain window and the bucketed two-phase
    // prefix plan, required before the timings are trusted
    def sessSessions(ev: DataFrame, bucketed: Boolean): Long = {
      val input = ev.select(col("user_id"), col("ts"))
      val sessioned =
        if (bucketed)
          graft.operators.Sessions.sessionizeBucketed(input, Seq("user_id"),
            "ts", 1800L, Joins.timeBuckets(3600L))
        else graft.operators.Sessions.sessionize(input, Seq("user_id"),
          "ts", 1800L)
      sessioned.groupBy("user_id", "session_no")
        .agg(count(lit(1)).as("n")).count()
    }
    /** (plain wall, bucketed wall) after requiring the two plans agree. */
    def plainAndBucketed(what: String, run: Boolean => Long): (Double, Double) = {
      val (plain, buck) = (run(false), run(true))
      require(plain == buck, s"bucketed $what diverged from plain: $buck vs $plain")
      (wall(run(false)), wall(run(true)))
    }
    def gapWall(ev: DataFrame): Double = wall {
      // the gap_fill shape: hourly grid for a user cohort, forward-filled
      // via the as-of carry; the hot user is NOT in the cohort, so its
      // mass stresses the carry's window exactly as it would in
      // production (right-side rows join the union regardless)
      val bounds = ev.filter(col("user_id") % 50 === 0)
        .groupBy("user_id")
        .agg(date_trunc("hour", min(col("ts"))).as("t0"),
          date_trunc("hour", max(col("ts"))).as("t1"))
      val grid = bounds.select(col("user_id"),
        explode(sequence(col("t0"), col("t1"),
          expr("INTERVAL 1 HOUR"))).as("slot"))
      Joins.asOfJoin(grid, ev.select(col("user_id"), col("ts"), col("value")),
          Seq("user_id"), "slot", "ts")
        .agg(count(col("value"))).head().getLong(0) // same pruning guard
    }
    val rows = uniform.count()
    val (aU, abU) = plainAndBucketed("as-of", asofMatches(uniform, _))
    val (sU, sbU) = plainAndBucketed("sessionize", sessSessions(uniform, _))
    val gU = gapWall(uniform)
    def r(h: Double, u: Double) = if (u > 0) h / u else -1.0
    val shares = Seq(1, 4).map { tenths =>
      val hot = hotAt(tenths)
      val hotRows = hot.filter(col("user_id") === 1L).count()
      val (aH, abH) = plainAndBucketed("as-of", asofMatches(hot, _))
      val (sH, sbH) = plainAndBucketed("sessionize", sessSessions(hot, _))
      val gH = gapWall(hot)
      s"${tenths * 10}pct" -> obj("hot_key_rows" -> hotRows,
        "hot_share" -> hotRows.toDouble / rows,
        "asof" -> obj("hot_sec" -> aH, "ratio" -> r(aH, aU)),
        "asof_bucketed" -> obj("hot_sec" -> abH, "ratio" -> r(abH, aU),
          "speedup_vs_plain" -> r(aH, abH)),
        "sessionize" -> obj("hot_sec" -> sH, "ratio" -> r(sH, sU)),
        "sessionize_bucketed" -> obj("hot_sec" -> sbH, "ratio" -> r(sbH, sU),
          "speedup_vs_plain" -> r(sH, sbH)),
        "gap_fill" -> obj("hot_sec" -> gH, "ratio" -> r(gH, gU)))
    }
    emit("asof_skew", obj("scale" -> scale, "rows" -> rows, "passes" -> passes,
      "uniform" -> obj("asof_sec" -> aU, "asof_bucketed_sec" -> abU,
        "sessionize_sec" -> sU, "sessionize_bucketed_sec" -> sbU,
        "gap_fill_sec" -> gU),
      "shares" -> obj(shares: _*),
      "sf" -> sfDir))
  }

  /** The stats-gated plain-vs-bucketed dispatch (Skew.pickWindowStrategy)
    * at the asof_skew probe points: the sampled dominant-key share must
    * pick the MEASURED-best plan at every distribution, and the sample
    * pass must cost a vanishing fraction of the window it gates. Walls
    * are re-measured live (sessionize, the family's purest shape) so
    * "best" is this run's ground truth, not a stale artifact's. */
  private def skewAutostrategy(c: Ctx): Unit = {
    import c._
    val evScaled = eventReplicas(1000000L, "event_id", "user_id", "ts")
    val rows = evScaled.count()
    val points = Seq(0, 1, 4).map { tenths =>
      val input = staged(hotUsers(evScaled, tenths), s"skas_t$tenths")
        .select(col("user_id"), col("ts"))
      val (decisionSec, share) = timeOnce(
        graft.operators.Skew.dominantKeyShare(input, Seq("user_id")))
      val chosen = if (share >= graft.operators.Skew.HotKeyShareThreshold)
        "bucketed" else "plain"
      def sessions(bucketed: Boolean): Long = {
        val out =
          if (bucketed) graft.operators.Sessions.sessionizeBucketed(input,
            Seq("user_id"), "ts", 1800L, Joins.timeBuckets(3600L))
          else graft.operators.Sessions.sessionize(input, Seq("user_id"),
            "ts", 1800L)
        out.groupBy("user_id", "session_no").agg(count(lit(1))).count()
      }
      val plainSec = wall(sessions(bucketed = false))
      val buckSec = wall(sessions(bucketed = true))
      val best = if (buckSec < plainSec) "bucketed" else "plain"
      s"${tenths * 10}pct" -> obj("sampled_share" -> share,
        "decision_sec" -> decisionSec, "chosen" -> chosen,
        "plain_sec" -> plainSec, "bucketed_sec" -> buckSec,
        "best" -> best, "chosen_eq_best" -> (chosen == best),
        "decision_cost_vs_gated_window" -> decisionSec / plainSec)
    }
    emit("skew_autostrategy", obj("scale" -> scale, "rows" -> rows,
      "passes" -> passes,
      "threshold" -> graft.operators.Skew.HotKeyShareThreshold,
      "points" -> obj(points: _*),
      "sf" -> sfDir))
  }

  /** The clusterBy data-layout claim: a store whose files are sorted by a
    * column turns a pushed range predicate on it into parquet row-group/
    * page skipping — the scan decodes the slice, not the bucket. The
    * cluster column must be UNCORRELATED with ingest order to need help:
    * this probe first clustered on event time and measured NO win,
    * because time-correlated ingest leaves every row group spanning ~5%
    * of the ts domain anyway (checked in the footers) — event tables
    * prune on arrival-time for free, which is worth knowing and is why
    * the probe clusters on `value` (the "range filter on a non-time
    * column" regime clusterBy exists for). Same rows, two stores; the
    * probe records the write-side cost (the local sort), the selective-
    * slice scan walls at 1% and 10% selectivity, and the full-scan walls
    * (which must be ~equal — layout must not tax full reads). Local page
    * cache hides raw IO, so the measured win is decode-skip only; on an
    * object store the skipped bytes are also unfetched. */
  private def snapshotCluster(c: Ctx): Unit = {
    import c._
    import graft.sinks.SnapshotStore
    val ev = events("event_id", "ts", "value")
    val evScaled = replicas()(i => ev.select(offset("event_id", i),
      // spread replicas over disjoint time ranges so the ts domain grows
      // with the corpus the way a longer-lived table's would
      (unix_micros(col("ts")) + lit(i.toLong * 4000000000000L)).as("ts_us"),
      col("value"),
      // with only 8-byte key columns the scan is task-overhead-bound and
      // no layout can show up (measured: 0.86–1.03x)
      payload("r", i)))
    // Row-group pruning needs row-group MULTIPLICITY: at production sizing
    // a bucket file holds many 128 MB row groups, but this probe's whole
    // bucket fits in ONE — which makes min-max skipping structurally
    // impossible regardless of layout (the first run of this probe
    // measured exactly that: 0.83–0.95x, no win). Both stores get the
    // same small row groups.
    def build(clusterBy: Seq[String]): (String, Double) = {
      val root = storePath(s"snapclus${clusterBy.size}")
      val (secs, _) = timeOnce(SnapshotStore.upsert(spark, root, evScaled,
        storeCfg, nBuckets = 8, clusterBy = clusterBy))
      (root, secs)
    }
    val ((rootC, writeC), (rootU, writeU)) = withSmallRowGroups {
      val built = (build(Seq("value")), build(Nil))
      // compact both stores to the maintained layout (one file per
      // bucket; for the clustered store that also merges the overlapping
      // sorted runs a multi-task upsert leaves into one fully-sorted
      // file — the repair compact's clusterBy doc promises)
      SnapshotStore.compact(spark, built._1._1, maxFilesPerBucket = 1)
      SnapshotStore.compact(spark, built._2._1, maxFilesPerBucket = 1)
      built
    }
    // slice by QUANTILE, not by range fraction: the fixture's value column
    // is heavily skewed (the bottom 10% of the RANGE holds ~67% of rows —
    // the first probe cut by range and measured a 67%-selectivity scan
    // while calling it 10%)
    val vLo = evScaled.agg(min(col("value"))).head().getDouble(0)
    val qs = SnapshotStore.read(spark, rootU).get
      .stat.approxQuantile("value", Array(0.01, 0.10), 0.0005)
    val cut = Map(0.01 -> qs(0), 0.10 -> qs(1))
    def scan(root: String, frac: Double): Double = {
      val store = SnapshotStore.read(spark, root).get
      val filtered =
        if (frac >= 1.0) store
        else store.filter(col("value") >= vLo && col("value") < cut(frac))
      // the agg must READ the wide column — a count alone would let
      // column pruning drop the very bytes skipping is supposed to save
      wall(filtered.agg(count(col("event_id")), sum(col("value")),
        sum(length(col("payload")))).head())
    }
    // equality gate: the layouts must agree on the slice before timing
    def sliceCount(root: String): Long =
      SnapshotStore.read(spark, root).get
        .filter(col("value") >= vLo && col("value") < cut(0.01))
        .count()
    require(sliceCount(rootC) == sliceCount(rootU),
      "clustered and unclustered stores disagree on the probe slice")
    val scans = Seq(0.01, 0.10, 1.0).map { frac =>
      val cl = scan(rootC, frac)
      val un = scan(rootU, frac)
      s"${(frac * 100).toInt}pct" -> obj("clustered_sec" -> cl,
        "unclustered_sec" -> un,
        "cluster_speedup" -> (if (cl > 0) un / cl else -1.0))
    }
    emit("snapshot_cluster", obj("scale" -> scale, "rows" -> evScaled.count(),
      "passes" -> passes, "write_clustered_sec" -> writeC,
      "write_unclustered_sec" -> writeU, "scans" -> obj(scans: _*),
      "sf" -> sfDir))
  }

  /** The streaming as-of enrichment under a realistic replay: the scaled
    * event corpus split into purchases (lefts) and clicks (rights),
    * written as TIME-ORDERED file slices and streamed through
    * StreamOps.asofEnrich with maxFilesPerTrigger forcing many
    * micro-batches — so state actually churns across batches (buffered
    * lefts flush as the watermark advances; standing rights carry
    * forward) instead of one bulk pass. Match-count parity with the batch
    * Joins.asOfJoin on the same corpus gates the wall. The recorded
    * streaming wall INCLUDES micro-batch scheduling overhead — that is the
    * honest cost of the continuous form; the batch wall is the one-shot
    * lower bound. */
  private def asofEnrichStream(c: Ctx): Unit = {
    import c._
    import graft.streaming.StreamOps
    val evS = eventReplicas(1000000L, "event_id", "user_id", "event_type", "ts")
    val pAll = evS.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val cAll = evS.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
    val base = tempDir("aes")
    val (lDir, rDir) = (s"$base/l", s"$base/r")
    val slices = 24
    writeTimeSlices(pAll, lDir, slices)
    writeTimeSlices(cAll, rDir, slices)
    val lSchema = spark.read.parquet(lDir).schema
    val rSchema = spark.read.parquet(rDir).schema
    val matched = new AtomicLong(0L)
    val emitted = new AtomicLong(0L)
    // peak state rows across the replay: the boundedness claim made
    // measurable — state must track keys-inside-the-horizon, not corpus
    val maxState = new MaxStateRows
    spark.streams.addListener(maxState)
    val nLefts = pAll.count()
    val (streamWall, _) = timeOnce {
      val q = StreamOps.asofEnrich(
          spark.readStream.schema(lSchema)
            .option("maxFilesPerTrigger", "2").parquet(lDir),
          spark.readStream.schema(rSchema)
            .option("maxFilesPerTrigger", "2").parquet(rDir),
          Seq("user_id"), "ts", "ts", delay = "1 hour", rightPrefix = "r_")
        .writeStream.foreachBatch {
          (df: DataFrame, _: Long) =>
            val row = df.filter(col("event_id") < lit(900000000000L))
              .agg(count(lit(1)), count(col("r_click_id"))).head()
            emitted.addAndGet(row.getLong(0))
            matched.addAndGet(row.getLong(1))
            ()
        }.start()
      try {
        q.processAllAvailable()
        // far-future sentinel flushes every pending left
        pAll.limit(1).select(lit(900000000001L).as("event_id"),
            lit(1L).as("user_id"),
            (col("ts") + expr("INTERVAL '400' DAY")).as("ts"))
          .coalesce(1).write.mode("append").parquet(lDir)
        q.processAllAvailable()
      } finally {
        q.stop()
        spark.streams.removeListener(maxState)
      }
    }
    def batchMatches(): Long = Joins.asOfJoin(pAll, cAll, Seq("user_id"), "ts", "ts",
      "r_").agg(count(col("r_click_id"))).head().getLong(0)
    val batchWall = wall(batchMatches())
    val nMatches = batchMatches()
    require(emitted.get() == nLefts,
      s"streaming emitted ${emitted.get()} of $nLefts lefts")
    require(matched.get() == nMatches,
      s"streaming matched ${matched.get()}, batch $nMatches")
    emit("asof_enrich_stream", obj("scale" -> scale, "lefts" -> nLefts,
      "matches" -> nMatches, "slices" -> slices,
      "stream_wall_sec" -> streamWall,
      "stream_rows_per_sec" -> (nLefts / streamWall).toLong,
      "max_state_rows" -> maxState.peak.get(),
      "batch_wall_sec" -> batchWall, "sf" -> sfDir))
  }

  /** Streaming gap-sessionization under the asof_enrich_stream replay
    * harness: the scaled event corpus as time-ordered file slices, many
    * micro-batches (state churns: pending rows flush as the watermark
    * advances, cursors persist), numbering parity with the batch
    * Sessions.sessionize required before the wall is trusted — checked as
    * (row count, Σ session_no, Σ session_no², Σ user·session_no), which
    * pins the per-row numbers without collecting the corpus.
    * max_state_rows makes the boundedness claim measurable: cursors are
    * one tiny row per SEEN key plus the pending horizon, never the
    * corpus. */
  private def sessionizeStream(c: Ctx): Unit = {
    import c._
    import graft.streaming.StreamOps
    val evSS = eventReplicas(1000000L, "event_id", "user_id", "ts")
    val dirSS = s"${tempDir("sss")}/ev"
    val slices = 24
    writeTimeSlices(evSS, dirSS, slices)
    val ssSchema = spark.read.parquet(dirSS).schema
    val nEv = evSS.count()
    def sums(df: DataFrame) = df.agg(count(lit(1)), sum(col("session_no")),
      sum(col("session_no") * col("session_no")),
      sum(col("user_id") * col("session_no"))).head()
    val acc = new java.util.concurrent.atomic.AtomicReference(
      (0L, 0L, 0L, 0L))
    val maxState = new MaxStateRows
    spark.streams.addListener(maxState)
    val (streamWall, _) = timeOnce {
      val q = StreamOps.sessionizeStream(
          spark.readStream.schema(ssSchema)
            .option("maxFilesPerTrigger", "2").parquet(dirSS),
          Seq("user_id"), "ts", gapSec = 1800L, delay = "1 hour")
        .writeStream.foreachBatch {
          (df: DataFrame, _: Long) =>
            val r = sums(df.filter(col("event_id") < lit(900000000000L)))
            def g(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
            acc.getAndUpdate { case (a, b, c, d) =>
              (a + g(0), b + g(1), c + g(2), d + g(3)) }
            ()
        }.start()
      try {
        q.processAllAvailable()
        // far-future sentinel flushes every pending row, twice so the
        // timeout batch runs after the watermark moves
        (1 to 2).foreach { k =>
          evSS.limit(1).select(lit(900000000000L + k).as("event_id"),
              lit(999L).as("user_id"),
              (col("ts") + expr(s"INTERVAL '${399 + k}' DAY")).as("ts"))
            .coalesce(1).write.mode("append").parquet(dirSS)
          q.processAllAvailable()
        }
      } finally {
        q.stop()
        spark.streams.removeListener(maxState)
      }
    }
    val batchWall = wall(graft.operators.Sessions.sessionize(evSS, Seq("user_id"),
      "ts", 1800L).agg(count(lit(1))).head())
    val bAgg = sums(graft.operators.Sessions.sessionize(evSS, Seq("user_id"),
      "ts", 1800L))
    val want = (bAgg.getLong(0), bAgg.getLong(1), bAgg.getLong(2),
      bAgg.getLong(3))
    require(acc.get() == want,
      s"streaming sessionization diverged from batch: ${acc.get()} vs $want")
    emit("sessionize_stream", obj("scale" -> scale, "rows" -> nEv,
      "slices" -> slices, "stream_wall_sec" -> streamWall,
      "stream_rows_per_sec" -> (nEv / streamWall).toLong,
      "max_state_rows" -> maxState.peak.get(),
      "batch_wall_sec" -> batchWall,
      "parity" -> "count+sum+sumsq+keyweighted all equal",
      "sf" -> sfDir))
  }

  /** Min-of-passes wall of a payload-reading aggregate over `root`'s
    * store filtered by `pred` (a count alone would let column pruning
    * drop the very bytes layout is supposed to save). */
  private def storeScan(c: Ctx, root: String, pred: Column): Double = {
    val store = graft.sinks.SnapshotStore.read(c.spark, root).get.filter(pred)
    c.wall(store.agg(count(col("event_id")), sum(length(col("payload")))).head())
  }

  /** Row counts of `pred` on every store, required equal before timing. */
  private def agreedRows(c: Ctx, name: String, roots: Seq[String], pred: Column): Long = {
    val counts = roots.map(r =>
      graft.sinks.SnapshotStore.read(c.spark, r).get.filter(pred).count())
    require(counts.distinct.size == 1, s"stores disagree on $name: $counts")
    counts.head
  }

  /** Per-dimension balance from Layout.zOrderDriftStats. */
  private def balances(c: Ctx, root: String, sample: Int = 0): Map[String, Double] =
    graft.operators.Layout.zOrderDriftStats(c.spark, root, sample).collect()
      .map(r => r.getString(0) -> r.getDouble(5)).toMap

  private def dims(b: Map[String, Double]): Json =
    obj("value" -> b("value"), "user_id" -> b("user_id"))

  /** The multi-dimension layout claim: a single-column clusterBy serves
    * ONLY its own column — a range predicate on any other column sees
    * full-range row groups. Z-ordering (Layout.zOrderUpsert: equi-depth
    * bucket ranks morton-interleaved into one stored sort key) gives every
    * clustered dimension range-locality. Three stores, same rows:
    * unclustered / clusterBy(value) / z-order(value, user_id); probes a
    * 1%-quantile slice per dimension and a 10%x10% 2-D box, counts gated
    * equal across stores before timing. Expected shape: the single-col
    * store wins hardest on value and does NOTHING on user_id; z-order wins
    * on BOTH (less deep per-dimension — the classic trade). */
  private def zorderCluster(c: Ctx): Unit = {
    import c._
    import graft.sinks.SnapshotStore
    import graft.operators.Layout
    val corpus = zCorpus("z")
    val (rootU, rootC, rootZ) = (storePath("zc_u"), storePath("zc_c"), storePath("zc_z"))
    val zWriteSec = withSmallRowGroups {
      SnapshotStore.upsert(spark, rootU, corpus, storeCfg, nBuckets = 8)
      SnapshotStore.upsert(spark, rootC, corpus, storeCfg, nBuckets = 8,
        clusterBy = Seq("value"))
      val (w, _) = timeOnce(Layout.zOrderUpsert(spark, rootZ, corpus,
        Seq("value", "user_id"), storeCfg, nBuckets = 8, buckets = 256))
      Seq(rootU, rootC, rootZ).foreach(r =>
        SnapshotStore.compact(spark, r, maxFilesPerBucket = 1))
      w
    }
    // quantile cut points shared by all stores
    val qv = corpus.stat.approxQuantile("value",
      Array(0.01, 0.45, 0.55), 0.0005)
    val qu = corpus.stat.approxQuantile("user_id",
      Array(0.01, 0.45, 0.55), 0.0005)
    val vLo = corpus.agg(min(col("value"))).head().getDouble(0)
    val uLo = corpus.agg(min(col("user_id"))).head().getDouble(0)
    val preds: Seq[(String, Column)] = Seq(
      "value_1pct" -> (col("value") >= vLo && col("value") < qv(0)),
      "user_1pct" -> (col("user_id") >= uLo && col("user_id") < qu(0)),
      "box_10x10" -> (col("value") >= qv(1) && col("value") < qv(2) &&
        col("user_id") >= qu(1) && col("user_id") < qu(2)))
    val scans = preds.map { case (name, pred) =>
      val rows = agreedRows(c, name, Seq(rootU, rootC, rootZ), pred)
      val (u, cl, z) =
        (storeScan(c, rootU, pred), storeScan(c, rootC, pred), storeScan(c, rootZ, pred))
      name -> obj("rows" -> rows, "unclustered_sec" -> u,
        "value_clustered_sec" -> cl, "zorder_sec" -> z,
        "value_clustered_speedup" -> (if (cl > 0) u / cl else -1.0),
        "zorder_speedup" -> (if (z > 0) u / z else -1.0))
    }
    emit("zorder_cluster", obj("scale" -> scale, "rows" -> corpus.count(),
      "passes" -> passes, "zorder_write_sec" -> zWriteSec,
      "scans" -> obj(scans: _*), "sf" -> sfDir))
  }

  /** The frozen-model drift story made measurable: a z-ordered store whose
    * later appends DRIFT out of the fitted range loses pruning on the
    * drifted dimension (all new rows rank into the top bucket, so the
    * interleave degenerates to the other dimensions' ordering within the
    * new mass), while a REFIT store (fresh fit on the full data) keeps it.
    * The probe builds frozen / refit / unclustered stores over identical
    * rows, scans a 1% slice INSIDE the drifted mass (where decay bites)
    * and a 1% slice on the undrifted dimension (which the frozen store
    * must still serve), and records Layout.zOrderDriftStats' balance
    * signal next to the measured walls — the refit threshold becomes a
    * read-off: the dimension whose balance exploded is the one whose
    * slices stopped pruning. */
  private def zorderDrift(c: Ctx): Unit = {
    import c._
    import graft.sinks.SnapshotStore
    import graft.operators.Layout
    val corpusA = zCorpus("d")
    val corpusB = driftedTwin(corpusA)
    val (rootF, rootR, rootUD) = (storePath("zd_f"), storePath("zd_r"), storePath("zd_u"))
    withSmallRowGroups {
      Layout.zOrderUpsert(spark, rootF, corpusA, Seq("value", "user_id"),
        storeCfg, nBuckets = 8, buckets = 256)
      Layout.zOrderUpsert(spark, rootF, corpusB, Seq("value", "user_id"),
        storeCfg) // frozen model ranks the drifted batch
      Layout.zOrderUpsert(spark, rootR, corpusA.unionByName(corpusB),
        Seq("value", "user_id"), storeCfg, nBuckets = 8, buckets = 256)
      SnapshotStore.upsert(spark, rootUD, corpusA.unionByName(corpusB),
        storeCfg, nBuckets = 8)
      Seq(rootF, rootR, rootUD).foreach(r =>
        SnapshotStore.compact(spark, r, maxFilesPerBucket = 1))
    }
    val qvB = corpusB.stat.approxQuantile("value", Array(0.01), 0.0005)
    val vBLo = corpusB.agg(min(col("value"))).head().getDouble(0)
    val quD = corpusA.stat.approxQuantile("user_id", Array(0.01), 0.0005)
    val uDLo = corpusA.agg(min(col("user_id"))).head().getDouble(0)
    val preds: Seq[(String, Column)] = Seq(
      "drifted_value_1pct" -> (col("value") >= vBLo && col("value") < qvB(0)),
      "user_1pct" -> (col("user_id") >= uDLo && col("user_id") < quD(0)))
    val scans = preds.map { case (name, pred) =>
      val rows = agreedRows(c, name, Seq(rootF, rootR, rootUD), pred)
      val (f, r, u) =
        (storeScan(c, rootF, pred), storeScan(c, rootR, pred), storeScan(c, rootUD, pred))
      name -> obj("rows" -> rows, "frozen_sec" -> f,
        "refit_sec" -> r, "unclustered_sec" -> u,
        "frozen_speedup_vs_unclustered" -> (if (f > 0) u / f else -1.0),
        "refit_speedup_vs_frozen" -> (if (r > 0) f / r else -1.0))
    }
    val bF = balances(c, rootF)
    val bR = balances(c, rootR)
    emit("zorder_drift", obj("scale" -> scale,
      "rows" -> corpusA.count() * 2, "passes" -> passes,
      "frozen_balance" -> dims(bF), "refit_balance" -> dims(bR),
      "scans" -> obj(scans: _*),
      "signal_flags_drift" -> (bF("value") > 4.0 && bR("value") < 4.0),
      "sf" -> sfDir))
  }

  /** zorder_drift showed the OPEN loop: a drifted dimension's balance
    * explodes and its slices decay toward (even below) unclustered, while
    * a hand-refit recovers the speedup. This probe closes it:
    * Layout.zOrderMaintain reads the same balance signal, DECIDES, and
    * rewrites in place — the drifted-mass 1% slice is measured before and
    * after the automatic refit, with an unclustered twin as the reference
    * line, and the maintain wall (fit + full rewrite) is recorded as the
    * cost of the recovery. */
  private def zorderMaintain(c: Ctx): Unit = {
    import c._
    import graft.sinks.SnapshotStore
    import graft.operators.Layout
    val corpusMA = zCorpus("m")
    val corpusMB = driftedTwin(corpusMA)
    val rootM = storePath("zm_m")
    val rootMU = storePath("zm_u")
    // small row groups, as in zorder_drift: pruning granularity at probe
    // sizes must resemble the real-row-group-count regime
    val entry = withSmallRowGroups {
      Layout.zOrderUpsert(spark, rootM, corpusMA, Seq("value", "user_id"),
        storeCfg, nBuckets = 8, buckets = 256)
      Layout.zOrderUpsert(spark, rootM, corpusMB, Seq("value", "user_id"),
        storeCfg) // frozen model ranks the drifted batch
      SnapshotStore.upsert(spark, rootMU, corpusMA.unionByName(corpusMB),
        storeCfg, nBuckets = 8)
      Seq(rootM, rootMU).foreach(r =>
        SnapshotStore.compact(spark, r, maxFilesPerBucket = 1))
      val qvM = corpusMB.stat.approxQuantile("value", Array(0.01), 0.0005)
      val vMLo = corpusMB.agg(min(col("value"))).head().getDouble(0)
      val predM = col("value") >= vMLo && col("value") < qvM(0)
      val rowsPre = agreedRows(c, "the drifted slice", Seq(rootM, rootMU), predM)
      val balPre = balances(c, rootM)
      val preSec = storeScan(c, rootM, predM)
      val uSec = storeScan(c, rootMU, predM)
      val (maintSec, decision1) = timeOnce(Layout.zOrderMaintain(spark, rootM, buckets = 256))
      val decision2 = Layout.zOrderMaintain(spark, rootM, buckets = 256)
      val balPost = balances(c, rootM)
      val postSec = storeScan(c, rootM, predM)
      val rowsPost = SnapshotStore.read(spark, rootM).get.filter(predM).count()
      require(rowsPost == rowsPre,
        s"refit changed the slice row count: $rowsPost vs $rowsPre")
      obj("scale" -> scale,
        "rows" -> corpusMA.count() * 2, "passes" -> passes,
        "slice_rows" -> rowsPre,
        "decision_drifted" -> decision1, "decision_after" -> decision2,
        "maintain_sec" -> maintSec,
        "balance_pre" -> dims(balPre), "balance_post" -> dims(balPost),
        "drifted_slice" -> obj("pre_sec" -> preSec, "post_sec" -> postSec,
          "unclustered_sec" -> uSec,
          "recovered_speedup" -> (if (postSec > 0) preSec / postSec else -1.0),
          "post_speedup_vs_unclustered" -> (if (postSec > 0) uSec / postSec else -1.0)),
        "signal" -> (decision1 == "refit" && decision2 == "ok" &&
          balPre("value") > 4.0 && balPost("value") < 4.0),
        "sf" -> sfDir)
    }
    emit("zorder_maintain", entry)
  }

  /** storeMaintain's nightly drift check must not cost a full-store scan
    * when the answer is "ok" — the common night. zOrderDriftStats'
    * bucket-SAMPLED form reads a deterministic subset of the store's hash
    * buckets (membership = hash(discriminant), independent of the z
    * columns, so the subset is an unbiased row sample and balance — a
    * ratio — survives sampling). This probe measures the sampled gauge's
    * COST vs the full scan and its FIDELITY: same worst-dimension balance
    * signal and same threshold decision, on a healthy store and again
    * after a drifted append. */
  private def zorderGauge(c: Ctx): Unit = {
    import c._
    import graft.operators.Layout
    val corpusGA = zCorpus("g")
    val corpusGB = driftedTwin(corpusGA)
    val storeBuckets = 256
    val sample = 16
    val rootG = storePath("zg")
    Layout.zOrderUpsert(spark, rootG, corpusGA, Seq("value", "user_id"),
      storeCfg, nBuckets = storeBuckets, buckets = 256)
    // min-of-passes like every timing probe; worst balance from the same
    // aggregation the maintain trigger reads
    def gauge(sample: Int): (Double, Double) = timed(Layout.zOrderDriftStats(
      spark, rootG, sample).agg(max(col("balance"))).head().getDouble(0))
    val (okFullSec, okFullBal) = gauge(0)
    val (okSampSec, okSampBal) = gauge(sample)
    Layout.zOrderUpsert(spark, rootG, corpusGB, Seq("value", "user_id"),
      storeCfg) // frozen model ranks the drifted batch
    val (drFullSec, drFullBal) = gauge(0)
    val (drSampSec, drSampBal) = gauge(sample)
    // the decisions the maintain trigger would take (maxBalance = 4.0,
    // confirmBand = 0.25): agreement on BOTH nights is the fidelity claim
    val agree = okFullBal <= 4.0 && okSampBal <= 4.0 * 0.75 &&
      drFullBal > 4.0 && drSampBal > 4.0 * 1.25
    def night(fullSec: Double, sampSec: Double, fullBal: Double, sampBal: Double) =
      obj("full_sec" -> fullSec, "sampled_sec" -> sampSec,
        "gauge_speedup" -> (if (sampSec > 0) fullSec / sampSec else -1.0),
        "full_balance" -> fullBal, "sampled_balance" -> sampBal)
    emit("zorder_gauge", obj("scale" -> scale, "rows" -> corpusGA.count() * 2,
      "passes" -> passes,
      "store_buckets" -> storeBuckets, "sample_buckets" -> sample,
      "sampled_fraction" -> sample.toDouble / storeBuckets,
      "ok_night" -> night(okFullSec, okSampSec, okFullBal, okSampBal),
      "drift_night" -> night(drFullSec, drSampSec, drFullBal, drSampBal),
      "decision_agreement" -> agree, "signal" -> agree,
      "sf" -> sfDir))
  }

  /** The physical merge join (AsofJoinExec) vs the union-and-carry
    * composition, same corpus recipe as asof_skew: uniform replica corpus
    * plus 10%/40% single-key hot variants at SCALE×. The merge plan's
    * claim is structural — each side exchanges ONCE in its own schema
    * where the union pays one padded-width exchange (every row carries
    * null-cast columns of the other side) plus a window sort; for
    * `nearest`, one merge pass vs two sorts. Match-count equality between
    * the two plans gates every timing (a fast-but-wrong merge fails
    * loudly). Skew is expected to degrade BOTH plans alike (one key = one
    * partition's merge either way) — the probe records the hot ratios to
    * show the merge introduces no new cliff. */
  private def asofMergeScale(c: Ctx): Unit = {
    import c._
    val evScaled = eventReplicas(1000000L, "event_id", "user_id", "event_type", "ts", "value")
    val uniform = staged(evScaled, "amerge_uni")
    // count(click_id) reads the matched payload (the pruning guard the
    // other as-of probes document: a bare count() would let Catalyst
    // drop the join work entirely)
    def matches(ev: DataFrame, merge: Boolean, dir: String): Long = {
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val joined =
        if (merge) Joins.asOfJoinMerge(p, clicks, Seq("user_id"), "ts",
          "click_ts", direction = dir)
        // the WINDOW form explicitly: the default dispatcher now routes
        // mergeable shapes to the merge node, so `asOfJoin` here would
        // time merge-vs-merge
        else Joins.asOfJoinWindow(p, clicks, Seq("user_id"), "ts", "click_ts",
          direction = dir)
      joined.agg(count(col("click_id"))).head().getLong(0)
    }
    def pair(ev: DataFrame, dir: String): (Double, Double) = {
      val win = matches(ev, merge = false, dir)
      val mrg = matches(ev, merge = true, dir)
      require(win == mrg,
        s"asOfJoinMerge($dir) diverged from asOfJoin: $mrg vs $win matches")
      (wall(matches(ev, merge = false, dir)),
        wall(matches(ev, merge = true, dir)))
    }
    def speedup(w: Double, m: Double) = if (m > 0) w / m else -1.0
    val rows = uniform.count()
    val dirs = Seq("backward", "nearest").map { d =>
      val (w, m) = pair(uniform, d)
      d -> obj("window_sec" -> w, "merge_sec" -> m, "merge_speedup" -> speedup(w, m))
    }
    // fixture-scale point (the bench corpus itself, no replication):
    // evidence that the default-dispatch decision needs no small-size
    // gate — the merge wins here too once the payload is actually read
    val fixturePoint = {
      val ev = Tables.withEventTimestamp(spark.read.parquet(s"$sfDir/events.parquet"))
      val (w, m) = pair(ev, "backward")
      obj("rows" -> ev.count(), "window_sec" -> w, "merge_sec" -> m,
        "merge_speedup" -> speedup(w, m))
    }
    val hot = Seq(1, 4).map { tenths =>
      val (w, m) = pair(staged(hotUsers(evScaled, tenths), s"amerge_hot$tenths"), "backward")
      s"${tenths * 10}pct" -> obj("window_hot_sec" -> w, "merge_hot_sec" -> m,
        "merge_speedup" -> speedup(w, m))
    }
    emit("asof_merge_scale", obj("scale" -> scale, "rows" -> rows, "passes" -> passes,
      "uniform" -> obj(dirs: _*), "hot" -> obj(hot: _*), "fixture" -> fixturePoint,
      "sf" -> sfDir))
  }

  /** Rotated-replica embedding corpora shared by the PQ probes
    * (pq_crossover, pq_bytes), generated ONCE under a stable cache path
    * and reused across runs (the expensive part is the 100k+ write, not
    * the timing). */
  private def pqcPathAt(reps: Int) =
    s"/tmp/graft_probe_cache/pqc_r$reps/embeddings.parquet"
  private def pqcCorpusAt(c: Ctx, reps: Int): DataFrame = {
    val p = pqcPathAt(reps)
    if (!new java.io.File(p).exists()) {
      val corpus =
        if (reps > 64) {
          // beyond the 64 distinct rotations, tile the cached 64-rotation
          // corpus with id offsets (direction multiplicity scales
          // uniformly — a denser crawl of the same distribution); keeps
          // the build plan 64+tile legs instead of `reps`
          val base = pqcCorpusAt(c, 64)
          c.replicas(math.max(1, reps / 64))(t => base.select(
            offset("vec_id", t, 10000000000L), col("embedding")))
        } else c.embeddingReplicas(rotate = true, reps = reps)
      corpus.repartition(c.cpus).write.mode("overwrite").parquet(p)
    }
    c.spark.read.parquet(p)
  }
  /** The fixed 20-query batch from the base fixture. */
  private def pqcQueries(c: Ctx): DataFrame =
    c.fixture("embeddings", "vec_id", "embedding").filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))

  /** Where the compressed-scan (PQ-ADC) path actually overtakes brute
    * force: ann_scale measures ~20k vectors, where brute force wins and
    * the PQ advantage is only asymptotic; this probe measures
    * brute/IVF/PQ per-batch wall at corpus sizes from ~20k to ~4M and
    * names the crossover, so the "compressed-scan path for exhaustive
    * search" scaladoc claim carries a measured point. */
  private def pqCrossover(c: Ctx): Unit = {
    import c._
    val queries = pqcQueries(c)
    val sizes =
      Seq("small" -> 10, "large" -> 50, "xlarge" -> 512, "xxlarge" -> 2048)
        .map { case (label, reps) =>
      val corpus = pqcCorpusAt(c, reps)
      val n = corpus.count()
      val cells = Similarity.autoCells(n)
      val nProbe = math.max(1, cells / 8)
      val idx = tempDir("pqc_ivf").toString
      Similarity.ivfPqBuild(corpus, "embedding", idx, nCells = cells,
        m = 16, ksub = 16)
      val model = Similarity.fitPq(corpus, "embedding", m = 16, ksub = 16)
      val encPath = tempDir("pqc_enc").resolve("encoded.parquet").toString
      Similarity.pqEncode(corpus, "embedding", model).drop("embedding")
        .write.mode("overwrite").parquet(encPath)
      val encoded = spark.read.parquet(encPath)
      val brute = timedCold(Similarity.bruteForceTopK(corpus, queries,
        "embedding", "vec_id", "query_id", k = 10).count())._1
      val ivf = timedCold(Similarity.ivfPqProbeTopK(spark, idx, queries,
        "embedding", "vec_id", "query_id", k = 10, nProbe = nProbe,
        shortlistFactor = 8).count())._1
      val pq = timedCold(Similarity.pqTopKEncoded(encoded, corpus, model,
        queries, "embedding", "vec_id", "query_id", k = 10,
        shortlistFactor = 8).count())._1
      (label, n, brute, ivf, pq)
    }
    val winnerAt = sizes.map { case (label, _, b, i, p) =>
      label -> Seq("brute_force" -> b, "ivf_pq" -> i, "pq_adc" -> p).minBy(_._2)._1
    }
    emit("pq_crossover", obj("passes" -> passes,
      "sizes" -> obj(sizes.map { case (label, n, b, i, p) =>
        label -> obj("vectors" -> n, "brute_sec" -> b, "ivf_pq_sec" -> i, "pq_adc_sec" -> p)
      }: _*),
      "winner_at" -> obj(winnerAt: _*),
      "pq_beats_brute_somewhere" -> sizes.exists { case (_, _, b, _, p) => p < b },
      "sf" -> sfDir))
  }

  /** The surviving ADC claim is BYTES SCANNED, not local wall time
    * (pq_crossover measured page-cached compute parity) — so measure the
    * bytes each leg actually reads, at the ~1M point, as the MEASURED
    * on-disk parquet footprint of the relation each leg scans end-to-end
    * with no partition pruning: brute force reads the vector relation;
    * the ADC shortlist leg reads only the persisted codes relation
    * (verified: its plan touches no vector column — the codes parquet
    * simply doesn't contain one); the exact re-rank leg re-reads the
    * vector relation (a broadcast shortlist join prunes no row groups
    * locally), so the full PQ path's local byte total is codes + vectors
    * — the honest caveat; the persisted IVF-PQ index narrows both legs to
    * the probed cells' files. (Task-level inputMetrics.bytesRead was
    * tried first and reports only ~0.2 MB per leg on local[n] —
    * RawLocalFileSystem reads bypass the Hadoop statistics the metric is
    * fed from — so file footprints are the trustworthy instrument here,
    * exactly because each leg scans 100% of its relation.) */
  private def pqBytes(c: Ctx): Unit = {
    import c._
    val corpusB = pqcCorpusAt(c, 512)
    val modelB = Similarity.fitPq(corpusB, "embedding", m = 16, ksub = 16)
    val encPathB = "/tmp/graft_probe_cache/pqb_enc_512/encoded.parquet"
    if (!new java.io.File(encPathB).exists())
      Similarity.pqEncode(corpusB, "embedding", modelB).drop("embedding")
        .write.mode("overwrite").parquet(encPathB)
    val encodedB = spark.read.parquet(encPathB)
    val nVec = corpusB.count()
    // sanity: the shortlist leg's executed plan must scan ONLY the codes
    // relation (any vector-column reference would mean the claim is
    // measuring the wrong plan)
    val shortlistPlan = Similarity.pqAdcShortlist(encodedB, corpusB.columns,
      modelB, pqcQueries(c), "embedding", "vec_id", "query_id", shortlistK = 80)
      .queryExecution.executedPlan.toString
    val codesOnly = !shortlistPlan.contains("pqc_r512")
    def localBytes(p: String): Long = {
      val s = Files.walk(Paths.get(p))
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
    val vecDisk = localBytes(pqcPathAt(512))
    val codesDisk = localBytes(encPathB)
    emit("pq_bytes", obj("vectors" -> nVec,
      "vectors_parquet_bytes" -> vecDisk,
      "codes_parquet_bytes" -> codesDisk,
      "brute_leg_bytes" -> vecDisk,
      "adc_shortlist_leg_bytes" -> codesDisk,
      "pq_rerank_leg_bytes" -> vecDisk,
      "adc_scan_ratio_vectors_over_codes" -> vecDisk.toDouble / codesDisk,
      "vectors_bytes_per_row" -> vecDisk.toDouble / nVec,
      "codes_bytes_per_row" -> codesDisk.toDouble / nVec,
      "shortlist_plan_reads_codes_only" -> codesOnly,
      "sf" -> sfDir))
  }

  /** Corpus-linearity of line-level boilerplate dedup at SCALE×: replicas
    * are letter-rotated (natural 8-token lines stay per-replica), but the
    * planted header line is the SAME string in every replica — site
    * chrome spans the whole crawl, so its document frequency grows with
    * the corpus and it stays boilerplate at any scale. Claims under test:
    * per-document wall stays flat from 1× to SCALE× (the frequency
    * aggregation and anti-join are corpus-linear; nothing quadratic hides
    * in the reassembly), and the planted boilerplate is ALWAYS removed
    * (zero cleaned documents still contain it). */
  private def lineDedupScale(c: Ctx): Unit = {
    import c._
    val header = "subscribe to our newsletter today"
    def corpusLd(reps: Int): DataFrame = {
      val df = rotatedDocs(reps)
      val toks = split(trim(col("text")), "\\s+")
      val body = transform(
        sequence(lit(0L), ((size(toks) - 1) / 8).cast("long")),
        i => array_join(slice(toks, (i * 8 + 1).cast("int"), lit(8)), " "))
      val hdr = when(pmod(col("doc_id"), lit(3)) === 0, array(lit(header)))
        .otherwise(array().cast("array<string>"))
      staged(df.select(col("doc_id"), concat_ws("\n", concat(hdr, body)).as("text")),
        s"ld_$reps")
    }
    def runLd(corpus: DataFrame): (Double, (Long, Long, Long)) = timed {
      val r = Dedup.dropBoilerplateLines(corpus, "text", "doc_id", maxDocFreq = 5)
        .agg(count(lit(1)), sum(col("n_dropped")),
          sum(col("text").contains(header).cast("long")))
        .head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    val small = corpusLd(1)
    val big = corpusLd(scale)
    val (s1, (n1, d1, h1)) = runLd(small)
    val (sN, (nN, dN, hN)) = runLd(big)
    emit("line_dedup_scale", obj("scale" -> scale, "passes" -> passes,
      "docs_1x" -> n1, "sec_1x" -> s1, "dropped_1x" -> d1,
      "docs_big" -> nN, "sec_big" -> sN, "dropped_big" -> dN,
      "per_doc_wall_ratio_big_over_1x" -> (sN / nN) / (s1 / n1),
      "header_survivors_1x" -> h1, "header_survivors_big" -> hN,
      "sf" -> sfDir))
  }

  /** The incremental BPE merge loop vs the naive recount-per-rank
    * reference at a production-flavored depth. Claims under test: the
    * incremental trainer is ≥10× faster at 1k+ merges on a full 65k-word
    * dictionary (the recount loop's O(numMerges × dict symbols) driver
    * cost is what capped practical vocab size), and the two are
    * merge-for-merge IDENTICAL (also equality-pinned at spec scale in
    * BpeSpec; here re-checked at probe scale). The fixture corpus's
    * NATURAL vocabulary is only a few hundred words (synthetic text from a
    * small pool), so a realistic 65k-entry dictionary is COMPOSED from it:
    * compound words = ordered concatenations of fixture words (the
    * morphology-flavored structure BPE exists to exploit — compounds share
    * sub-word runs), Zipf-weighted by composition index, deduped and cut
    * under collectDict's (count desc, word asc) order. */
  private def bpeTrain(c: Ctx): Unit = {
    import c._
    import graft.operators.Bpe
    val docsBp = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(lower(col("text")).as("text"))
    val baseWords = Bpe.collectDict(docsBp, col("text"), 100000)
      .map(_._1.mkString)
    val nBase = baseWords.length
    // the digit expansion below divides by nBase and terminates only for
    // a radix >= 2 — a degenerate regenerated fixture (empty corpus, or a
    // single distinct token) must fail loudly, not hang or divide by zero
    require(nBase >= 2,
      s"bpe_train probe needs >= 2 distinct fixture words, got $nBase")
    val dictTarget = 65536
    val composed = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    var ci = 0
    // variable-length compounds (digits of the index in base |vocab|):
    // the fixture pool is ~30 words, so pairs alone can't reach 65k —
    // 1..4-word compounds can
    while (composed.size < dictTarget && ci < Int.MaxValue - 1) {
      val sb = new StringBuilder
      var x = ci
      while ({ sb.append(baseWords(x % nBase)); x /= nBase; x > 0 }) ()
      val w = sb.toString
      composed(w) = composed.getOrElse(w, 0L) + math.max(1L, 1000000L / (ci + 1))
      ci += 1
    }
    val dictBp: Array[(Array[String], Long)] = composed.toArray
      .sortBy { case (w, c) => (-c, w) }
      .map { case (w, c) => (w.map(String.valueOf(_)).toArray, c) }
    // Default depth 4000: the speedup GROWS with merge depth (measured
    // 4.3× at 1k merges, 16× at 4k on this dictionary) because the
    // incremental trainer's cost concentrates in the early ranks — the
    // most frequent pairs touch most of the dictionary — while the
    // recount reference pays the full O(dict symbols) at EVERY rank; a
    // real 8k–32k vocab build sits past this point on the curve.
    val mergesBp = sys.env.get("SPARK_GRAFT_BPE_MERGES")
      .flatMap(_.trim.toIntOption).getOrElse(4000)
    def cloneDict() = dictBp.map { case (s, c) => (s.clone(), c) }
    val (refSec, refMerges) = timed(Bpe.trainReference(cloneDict(), mergesBp))
    val (incSec, incMerges) = timed(Bpe.trainOnDict(cloneDict(), mergesBp))
    // the production point: a full 32k-merge vocab build, incremental
    // only (the recount loop at this depth is the multi-minute driver
    // ceiling the rewrite removed — extrapolable from ref_sec, not worth
    // re-measuring every run)
    val (deepSec, deep) = timeOnce(Bpe.trainOnDict(cloneDict(), 32768))
    emit("bpe_train", obj("scale" -> scale, "passes" -> passes,
      "dict_words" -> dictBp.length, "merges" -> mergesBp,
      "ref_sec" -> refSec, "inc_sec" -> incSec,
      "speedup" -> refSec / incSec, "identical" -> (refMerges == incMerges),
      "inc_32k_sec" -> deepSec, "inc_32k_merges" -> deep.length,
      "sf" -> sfDir))
  }

  /** The redesigned minhash_pairs regime at SCALE×: threshold-1.0
    * minHashLsh (8 bands × 8 rows) over a corpus with planted
    * identical-text copies of a 10% md5 coin. Claims under test: planted
    * recall stays exactly 1.0 (structural — an identical text has an
    * identical shingle set, hence an identical signature, hence collides
    * in every band — not statistical) and wall stays corpus-linear:
    * candidates are the identical-set pairs plus the ~8·j⁸
    * random-collision floor, never the dense candidate set a
    * low-threshold banding produces. Replicas carry a distinct leading
    * tag token so cross-replica texts differ and natural identical-set
    * pair volume grows scale-LINEARLY (within-replica only), matching how
    * a real corpus grows. */
  private def minhashPlantedScale(c: Ctx): Unit = {
    import c._
    val mhBase = staged(taggedDocs("replica"), "mhsc")
    val mhPlanted = mhBase.filter(coin("doc_id", 0.1))
    val mhCorpus = mhBase.unionByName(mhPlanted
      .select((col("doc_id") + plantOffset).as("doc_id"), col("text")))
    val (nDocs, nPlanted) = (mhBase.count(), mhPlanted.count())
    val (secs, (found, path)) = timedCold {
      val pairs = Dedup.minHashLsh(mhCorpus, "text", "doc_id",
        shingleSize = 3, numHashes = 64, bands = 8, threshold = 1.0)
      (pairs.filter(col("id_b") - col("id_a") === plantOffset).count(),
        lshPath(pairs))
    }
    emit("minhash_planted_scale", obj("scale" -> scale, "docs" -> nDocs,
      "planted" -> nPlanted, "passes" -> passes, "sec" -> secs,
      "planted_found" -> found, "planted_recall" -> found.toDouble / nPlanted,
      "minhash_path" -> path, "sf" -> sfDir))
  }

  /** Which path served a `minHashLsh` call: "driver" (a local relation of
    * pairs) or "spark". */
  private def lshPath(pairs: DataFrame): String =
    pairs.queryExecution.analyzed match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => "driver"
      case _ => "spark"
    }

  /** Incremental-ingest regime at SCALE×: the replica-tagged corpus (as
    * minhash_planted_scale) is the already-deduplicated OLD side; the NEW
    * batch is an identical-text copy of a 2% md5 coin. Claims under test:
    * (a) planted recall stays exactly 1.0 — structural, an identical
    * signature collides in every band; (b) minHashLshAgainst costs a
    * small fraction of re-running the self-join minHashLsh over old ∪ new
    * — the candidate volume an ingest loop pays per batch is
    * |new|-proportional, not |corpus|-quadratic-ish. */
  private def incrementalDedupScale(c: Ctx): Unit = {
    import c._
    val oldC = staged(taggedDocs("replica"), "incsc")
    val nOld = oldC.count()
    // a 2% batch: real ingest slices are small against the retained
    // corpus — the regime the amortized-state path exists for
    val newB = oldC.filter(coin("doc_id", 0.02))
      .select((col("doc_id") + plantOffset).as("doc_id"), col("text"))
    val nNew = newB.count()
    def plantedFound(oldKeys: Option[DataFrame]): Long =
      Dedup.minHashLshAgainst(newB, oldC, "text", "doc_id",
          shingleSize = 3, numHashes = 64, bands = 8, threshold = 1.0,
          oldKeys = oldKeys)
        .filter(!col("other_is_new") &&
          col("id_new") - col("id_other") === plantOffset)
        .count()
    val (incSec, incFound) = timedCold(plantedFound(None))
    // the amortized-state regime: the corpus's band keys were persisted at
    // ingest time (minHashBandKeys, written once, outside the timer), so a
    // batch pays its own scan + the key join + candidate-only verification
    val keysPath = tempDir("inckeys").resolve("band_keys.parquet").toString
    Dedup.minHashBandKeys(oldC, "text", "doc_id",
      shingleSize = 3, numHashes = 64, bands = 8)
      .write.mode("overwrite").parquet(keysPath)
    val (storedSec, storedFound) =
      timedCold(plantedFound(Some(spark.read.parquet(keysPath))))
    // the non-incremental alternative the ingest loop would otherwise pay
    val (fullSec, fullPath) = timedCold {
      val pairs = Dedup.minHashLsh(oldC.unionByName(newB), "text",
        "doc_id", shingleSize = 3, numHashes = 64, bands = 8, threshold = 1.0)
      pairs.count()
      lshPath(pairs)
    }
    emit("incremental_dedup_scale", obj("scale" -> scale, "old_docs" -> nOld,
      "new_docs" -> nNew, "passes" -> passes, "incremental_sec" -> incSec,
      "stored_keys_sec" -> storedSec, "full_repair_sec" -> fullSec,
      "ratio" -> incSec / fullSec, "stored_ratio" -> storedSec / fullSec,
      "planted_found" -> incFound, "stored_found" -> storedFound,
      "planted_recall" -> incFound.toDouble / nNew,
      "full_repair_path" -> fullPath, "sf" -> sfDir))
  }

  /** The change-data-feed claim: SnapshotStore.changes reads bytes
    * proportional to the CHURNED buckets (manifest diff), not the table.
    * Two regimes, both recorded honestly:
    *  - small batch (fewer update keys than buckets): the feed prunes to
    *    the touched buckets' files at both versions, so bytes and wall
    *    collapse vs a naive full pre-vs-post diff;
    *  - saturating batch (keys spread across every bucket): hash bucketing
    *    has no locality to exploit, every bucket moved, and the feed
    *    legitimately degrades to the naive cost — the honest ceiling of
    *    bucket-granular pruning (at production bucket counts, thousands,
    *    saturation needs a proportionally larger batch).
    * Bytes are measured from the plans' own inputFiles (the pruned file
    * lists), wall from the classified-diff count. */
  private def cdfScale(c: Ctx): Unit = {
    import c._
    import graft.sinks.SnapshotStore
    val ev = events("event_id", "value")
    // wide payload: the bytes bucket pruning saves must exist
    val dataC = replicas()(i => ev.select(offset("event_id", i), col("value"),
      payload("c", i)))
    val cdfBuckets = 64
    def fileBytes(paths: Array[String]): Long = paths.map { p =>
      val fp = new org.apache.hadoop.fs.Path(p)
      fp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(fp).getLen
    }.sum
    def naiveDiff(root: String, from: Long, to: Long): DataFrame = {
      val pre = SnapshotStore.readVersion(spark, root, from)
      val post = SnapshotStore.readVersion(spark, root, to)
      val cols = post.columns.toSeq
      val preS = pre.select(col("event_id"),
        struct(cols.map(col): _*).as("__pre"))
      val postS = post.select(col("event_id"),
        struct(cols.map(col): _*).as("__post"))
      preS.join(postS, Seq("event_id"), "full_outer")
        .filter(col("__pre").isNull || col("__post").isNull ||
          !(col("__pre") <=> col("__post")))
    }
    def regime(name: String, updates: DataFrame): (String, Json) = {
      val root = storePath(s"cdf_$name")
      SnapshotStore.upsert(spark, root, dataC, storeCfg, nBuckets = cdfBuckets)
      SnapshotStore.upsert(spark, root, updates, storeCfg)
      val changed = SnapshotStore.changedBuckets(spark, root, 0L, 1L)
      val feedBytes = fileBytes(SnapshotStore.changes(spark, root, 0L, 1L).inputFiles)
      val naiveBytes = fileBytes(naiveDiff(root, 0L, 1L).inputFiles)
      val nUpdates = updates.count()
      def diffWall(what: String, diff: => DataFrame): Double = wall {
        val n = diff.count()
        require(n == nUpdates, s"$what rows $n != update keys $nUpdates")
      }
      val feedSec = diffWall("feed", SnapshotStore.changes(spark, root, 0L, 1L))
      val naiveSec = diffWall("naive", naiveDiff(root, 0L, 1L))
      name -> obj("update_keys" -> nUpdates,
        "changed_buckets" -> changed.size, "buckets" -> cdfBuckets,
        "feed_sec" -> feedSec, "naive_sec" -> naiveSec,
        "speedup" -> (if (feedSec > 0) naiveSec / feedSec else -1.0),
        "feed_bytes" -> feedBytes, "naive_bytes" -> naiveBytes,
        "bytes_fraction" -> feedBytes.toDouble / naiveBytes)
    }
    // small: 8 fixed keys -> at most 8/64 buckets move
    val smallUpd = dataC.filter(col("event_id") % lit(12500) === 3)
      .limit(8).select(col("event_id"), (col("value") + 1.0).as("value"),
        col("payload"))
    // saturating: every ~20th key -> every bucket moves
    val wideUpd = dataC.filter(col("event_id") % 20 === 0)
      .select(col("event_id"), (col("value") + 1.0).as("value"),
        col("payload"))
    val rowsC = dataC.count()
    emit("cdf_scale", obj("scale" -> scale, "rows" -> rowsC, "passes" -> passes,
      regime("small_batch", smallUpd),
      regime("saturating_batch", wideUpd),
      "sf" -> sfDir))
  }

  /** SnapshotStore.delete's claim: a small opt-out batch against a big
    * store costs O(touched buckets) — the victim keys hash to their
    * buckets, only those are read + anti-joined + rewritten. The naive
    * alternative (what a store without key bucketing must do) is a
    * full-table anti-join rewrite, measured here as SnapshotStore.rewrite
    * with the same anti-join on an identical twin store. Bytes are the
    * on-disk sizes of the touched bucket directories vs the whole store
    * (the read sets of the two legs); the feed-totality check pins that
    * the pruned path still reports every removed row as a delete. */
  private def deleteScale(c: Ctx): Unit = {
    import c._
    import graft.sinks.SnapshotStore
    val ev = events("event_id", "value")
    val dataD = replicas()(i => ev.select(offset("event_id", i), col("value"),
      payload("x", i)))
    val bucketsD = 256
    def mkStoreD(tag: String): String = {
      val r = storePath(s"del_$tag")
      SnapshotStore.upsert(spark, r, dataD, storeCfg, nBuckets = bucketsD)
      r
    }
    val (rootP, rootN) = (mkStoreD("p"), mkStoreD("n"))
    val rowsD = dataD.count()
    val victims = dataD.filter(col("event_id") % lit(12500) === 3)
      .limit(8).select("event_id").localCheckpoint(true)
    val nVictims = victims.count()
    // an empty victim set would make delete() a committing no-op (version 1
    // never exists) and the changedBuckets(0,1) read below would die on a
    // missing-manifest error; fail HERE with the real cause — the %12500
    // filter found nothing at this scale factor — instead (the
    // nDel==nVictims require passes vacuously at 0==0)
    require(nVictims > 0,
      s"delete_scale probe selected no victim keys at scale=$scale " +
        s"($sfDir): raise the scale or loosen the victim filter")
    val storeBytes = dirBytes(s"$rootP/snapshot=0")
    val (prunedSec, nDel) = timeOnce(SnapshotStore.delete(spark, rootP, victims))
    require(nDel == nVictims, s"pruned delete removed $nDel of $nVictims")
    val changedD = SnapshotStore.changedBuckets(spark, rootP, 0L, 1L)
    val touchedBytes = changedD.toSeq.map(b =>
      dirBytes(s"$rootP/snapshot=0/__bucket=$b")).sum
    val feedRows = SnapshotStore.changes(spark, rootP, 0L, 1L).collect()
    val feedTotal = feedRows.length == nDel.toInt &&
      feedRows.forall(_.getAs[String]("_change_type") == "delete")
    val (naiveSec, _) = timeOnce(SnapshotStore.rewrite(spark, rootN,
      df => df.join(broadcast(victims), Seq("event_id"), "left_anti")))
    val nRemainN = SnapshotStore.read(spark, rootN).get.count()
    require(nRemainN == rowsD - nDel,
      s"naive leg kept $nRemainN, expected ${rowsD - nDel}")
    emit("delete_scale", obj("scale" -> scale, "rows" -> rowsD,
      "buckets" -> bucketsD, "victims" -> nVictims, "deleted" -> nDel,
      "changed_buckets" -> changedD.size,
      "pruned_sec" -> prunedSec, "naive_rewrite_sec" -> naiveSec,
      "speedup" -> (if (prunedSec > 0) naiveSec / prunedSec else -1.0),
      "touched_bytes" -> touchedBytes, "store_bytes" -> storeBytes,
      "bytes_fraction" -> touchedBytes.toDouble / math.max(1L, storeBytes),
      "feed_total" -> feedTotal,
      "sf" -> sfDir))
  }

  /** Similarity.indexDelete's claim (the delete_scale economy carried to
    * the serving index): a small opt-out batch against a big index
    * rewrites ONLY the cells that held the victims — never the relation.
    * The naive alternative anti-joins and rewrites the whole data
    * relation, measured on an identical twin. Bytes are the REWRITE sets:
    * touched cell dirs vs the whole relation (the victim-locating scan
    * additionally reads the id column once — column-pruned, the vectors
    * and codes stay unread). */
  private def indexDeleteScale(c: Ctx): Unit = {
    import c._
    val embI = fixture("embeddings", "vec_id", "embedding")
    // 200x the pair-probe replication: the pruned leg's cost is a
    // handful of fixed-size jobs (one narrow locate scan, a few cell
    // rewrites), so the wall contrast with the O(index) naive leg only
    // shows once the index dwarfs those constants. The LOCAL wall ratio
    // is noisy (both legs' constants are comparable to one local parquet
    // job's scheduling jitter); the rewrite-bytes fraction is the STABLE
    // scale-transferable figure, and at storage-bandwidth-bound sizes it
    // IS the wall ratio.
    val reps = scale * 200
    // scan-side fan-out (ONE plan node), not a reps-way union: a
    // 500-deep union tree overflows plan serialization before it runs
    val corpusI = embI
      .select(explode(sequence(lit(0L), lit(reps - 1L))).as("__rep"),
        col("vec_id"), col("embedding"))
      .select((col("vec_id") + col("__rep") * lit(10000000L)).as("vec_id"),
        col("embedding"))
      .repartition(cpus)
    def mkIndexI(tag: String): String = {
      val r = tempDir(s"idxdel_$tag").resolve("index").toString
      Similarity.ivfPqBuild(corpusI, "embedding", r, m = 16, ksub = 16)
      r
    }
    val (idxP, idxN) = (mkIndexI("p"), mkIndexI("n"))
    val rowsI = spark.read.parquet(s"$idxP/data").count()
    val cellsI = spark.read.parquet(s"$idxP/centroids").count()
    val victimsI = corpusI.select("vec_id")
      .filter(col("vec_id") % lit(12501) === 3)
      .limit(8).localCheckpoint(true)
    val nVictimsI = victimsI.count()
    require(nVictimsI > 0,
      s"index_delete_scale selected no victims at scale=$scale ($sfDir)")
    val dataBytes = dirBytes(s"$idxP/data")
    // the pruned path's rewrite set, measured on the PRUNED index itself:
    // the victims' cells (one column-pruned locate read, outside the timed
    // legs) and their pre-delete sizes from METADATA only
    val touchedI = spark.read.parquet(s"$idxP/data")
      .select("vec_id", "__cell")
      .join(broadcast(victimsI), Seq("vec_id"), "left_semi")
      .select("__cell").distinct().collect().map(_.getInt(0)).toSeq
    val touchedBytes = touchedI.map(cell =>
      dirBytes(s"$idxP/data/__cell=$cell")).sum
    val (prunedSecI, nDelI) = timeOnce(Similarity.indexDelete(spark, idxP,
      victimsI, idCol = "vec_id"))
    require(nDelI == nVictimsI,
      s"pruned index delete removed $nDelI of $nVictimsI")
    // naive leg: full anti-join rewrite of the data relation on the twin
    val (naiveSecI, _) = timeOnce(spark.read.parquet(s"$idxN/data")
      .join(broadcast(victimsI), Seq("vec_id"), "left_anti")
      .write.mode("overwrite").partitionBy("__cell")
      .parquet(s"$idxN/data_rw"))
    val nRemainNaive = spark.read.parquet(s"$idxN/data_rw").count()
    require(nRemainNaive == rowsI - nDelI,
      s"naive leg kept $nRemainNaive, expected ${rowsI - nDelI}")
    // post-delete health: the pruned index still serves, victims gone
    val qI = embI.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val served = Similarity.ivfPqProbeTopK(spark, idxP, qI, "embedding",
      "vec_id", "query_id", k = 10, shortlistFactor = 8)
    val victimSet = victimsI.collect().map(_.getLong(0)).toSet
    val healthy = served.groupBy("query_id").count()
      .filter(col("count") =!= 10).count() == 0L &&
      served.filter(col("vec_id").isin(victimSet.toSeq: _*)).count() == 0L
    emit("index_delete_scale", obj("index" -> "ivf-pq", "scale" -> scale,
      "rows" -> rowsI, "cells" -> cellsI, "victims" -> nVictimsI,
      "deleted" -> nDelI, "touched_cells" -> touchedI.size,
      "pruned_sec" -> prunedSecI, "naive_rewrite_sec" -> naiveSecI,
      "speedup" -> (if (prunedSecI > 0) naiveSecI / prunedSecI else -1.0),
      "touched_cell_bytes" -> touchedBytes,
      "data_bytes" -> dataBytes,
      "rewrite_bytes_fraction" -> touchedBytes.toDouble / math.max(1L, dataBytes),
      "post_delete_healthy" -> healthy,
      "sf" -> sfDir))
  }

  /** Core-count scaling of the heavy operator families at manufactured
    * sf1 (SCALE× rotated replicas of sf0.1 — the pair_join_scale /
    * semdedup_scale construction). At sf0.1 the bench suite is
    * scheduling-bound, so 8→32-core ratios read ≈1 for most queries and
    * say nothing about whether the operators parallelize; this probe
    * measures the same operators at a volume where compute dominates. Run
    * it TWICE — SPARK_GRAFT_CPUS=8 and =32 with
    * SPARK_GRAFT_PROBES=core_scaling — and compare the `core_scaling_c8` /
    * `core_scaling_c32` entries. The staged corpora are written at a
    * FIXED partition count (32, not `cpus`) so both runs scan the
    * identical file layout and the ratio measures the engine, not the
    * staging. SPARK_GRAFT_CORE_OPS: comma list to re-run a subset (the
    * text and vector families want different SCALE values — the
    * embeddings fixture is 25× smaller than documents, so the vector ops
    * need SCALE≈100 before compute dominates, where the text ops at 100
    * would run far past any useful budget). Staging is per-family so a
    * filtered run pays only for the corpora its ops read. */
  private def coreScaling(c: Ctx): Unit = {
    import c._
    val opFilter = sys.env.get("SPARK_GRAFT_CORE_OPS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def selected(name: String): Boolean = opFilter.forall(_(name))
    val textOps = Seq("ngram_pairs", "chargram_minhash", "simhash_pairs",
      "charlm_score")
    val vecOps = Seq("semdedup_pairs", "pq_topk")
    val parts = 32
    lazy val docs = staged(rotatedDocs(), "coresc_docs", parts)
    lazy val emb = staged(embeddingReplicas(rotate = true), "coresc_emb", parts)
    val nDocs = if (textOps.exists(selected)) docs.count() else 0L
    val nVecs = if (vecOps.exists(selected)) emb.count() else 0L
    lazy val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val ops: Seq[(String, () => Long)] = Seq(
      "ngram_pairs" -> (() => Dedup.ngramJaccardPairs(
        docs, "text", "doc_id", shingleSize = 3, threshold = 0.1,
        strategy = "single").count()),
      "chargram_minhash" -> (() => Dedup.charJaccardPairs(
        docs, "text", "doc_id", shingleSize = 12, threshold = 0.3,
        maxDf = 50L * scale, strategy = "minhash").count()),
      "simhash_pairs" -> (() => Dedup.simHash(
        docs, "text", "doc_id").count()),
      "charlm_score" -> (() => graft.operators.CorpusStats
        .charLmScore(docs, "text", "doc_id", n = 3, topV = 5000)
        .agg(count(lit(1)), sum("freq_sum"), sum("oov"))
        .collect()(0).getLong(0)),
      "semdedup_pairs" -> (() => Dedup.semanticDedupPairs(
        emb, "embedding", "vec_id", threshold = 0.9).count()),
      "pq_topk" -> (() => Similarity.pqTopK(emb, queries,
        "embedding", "vec_id", "query_id", k = 10, m = 16).count()))
      .filter { case (n, _) => selected(n) }
    // filtered re-runs get their own key so a family probed at a
    // different SCALE doesn't overwrite the default full entry
    val key =
      if (opFilter.isEmpty) s"core_scaling_c$cpus"
      else s"core_scaling_c${cpus}_x$scale"
    emit(key, obj("scale" -> scale, "cpus" -> cpus, "docs" -> nDocs,
      "vectors" -> nVecs, "passes" -> passes, "staged_partitions" -> parts,
      "ops" -> perVariant(timeVariants(ops: _*), "rows"), "sf" -> sfDir))
  }

  /** Unigram-jaccard distribution of the pairs simHash emits on the
    * fixture itself (no replicas): calibrates the precision floor
    * `simhash_pairs` asserts. Also prints the 30 least similar pairs. */
  private def simhashPrecision(c: Ctx): Unit = {
    import c._
    import graft.functions.{HashFunctions => H}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sim = Dedup.simHash(docs, "text", "doc_id", chunks = 4, maxHamming = 3)
    val toksets = docs.select(col("doc_id"),
      H.wordShingles(TF.tokens(lower(col("text"))), 1).as("__ts"))
    val simJ = sim
      .join(toksets.select(col("doc_id").as("id_a"), col("__ts").as("__ta")), Seq("id_a"))
      .join(toksets.select(col("doc_id").as("id_b"), col("__ts").as("__tb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("hamming"),
        H.jaccard(col("__ta"), col("__tb")).as("j"))
    simJ.orderBy("j").show(30, truncate = false)
    val s = simJ.agg(count(lit(1)), min(col("j")), expr("percentile(j, 0.1)"),
      expr("percentile(j, 0.5)")).head()
    emit("simhash_precision", obj("pairs" -> s.getLong(0), "min_jaccard" -> s.get(1),
      "p10_jaccard" -> s.get(2), "p50_jaccard" -> s.get(3), "sf" -> sfDir))
  }
}
