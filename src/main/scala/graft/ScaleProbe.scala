package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Joins, Packing, Similarity}

/** Scale probes (dev tool, not part of the Verify/Bench contract): each named
  * probe measures one operator family on manufactured volume. The first,
  * `pair_join_scale`, measures the pair-join strategies on a corpus N×
  * the largest local fixture: the exact single-pass string-keyed
  * inverted-index join, the MinHash prefilter, and the stats-gated
  * `auto` choice between them. No sf1
  * fixture exists, so this probe manufactures scale: `SCALE` replicas of
  * the sf0.1 documents, each with a per-replica letter rotation
  * (`translate`) so replica shingle sets are disjoint — the pair structure
  * and bucket sizes stay per-replica, the workload (rows, exchange bytes,
  * join fan-out) scales linearly, the way a larger crawl would, instead of
  * quadratically the way exact mirroring would. `maxDf` scales with the
  * replica count for the chargram variant so the stop-shingle semantics
  * stay per-replica (only letter-free shingles — digits/punctuation —
  * cross replicas, and those are exactly the boilerplate maxDf exists to
  * drop).
  *
  * Prints one JSON line per configuration with per-variant minima over
  * `PASSES` runs, and merges the same entry into `SCALEPROBE.json` at the
  * repo root (keyed by probe name) so scale measurements are a committed
  * artifact diffable across rounds, not prose. Knobs via env:
  * SPARK_GRAFT_SF_DIR, SPARK_GRAFT_SCALE (default 10),
  * SPARK_GRAFT_SCALE_PASSES (default 2).
  */
object ScaleProbe {

  /** Merge one probe's JSON entry into SCALEPROBE.json (object keyed by
    * probe name — re-running a probe replaces its own entry and leaves
    * the others). */
  private[graft] def writeArtifact(probe: String, entryJson: String): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val path = java.nio.file.Paths.get("SCALEPROBE.json")
    val root: com.fasterxml.jackson.databind.node.ObjectNode =
      if (java.nio.file.Files.exists(path))
        mapper.readTree(java.nio.file.Files.readAllBytes(path)) match {
          case o: com.fasterxml.jackson.databind.node.ObjectNode => o
          case _ => mapper.createObjectNode()
        }
      else mapper.createObjectNode()
    root.set[com.fasterxml.jackson.databind.JsonNode](
      probe, mapper.readTree(entryJson))
    java.nio.file.Files.write(path,
      root.toPrettyString.getBytes("UTF-8"))
    ()
  }
  /** Rotate a 64-wide array column left by `s`: replicas become distinct
    * DIRECTIONS with the same norm/coordinate distribution (verbatim
    * copies would co-locate every true neighbor with its query and
    * degenerate recall to 1.0 at any probe budget). */
  private def rotate64(c: org.apache.spark.sql.Column, s: Int) =
    if (s == 0) c else concat(slice(c, s + 1, 64 - s), slice(c, 1, s))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val scale = sys.env.get("SPARK_GRAFT_SCALE")
      .flatMap(_.trim.toIntOption).getOrElse(10)
    // Planted-copy id offset for the planted-pair probes, strictly above
    // every replica id at ANY scale: replica i offsets ids by i*1e8
    // (i < scale) and base ids sit far below 1e8, so scale*1e8 clears
    // them all — a FIXED literal offset (1e9, 1e10 historically) collides
    // with the replica band once scale crosses literal/1e8, duplicating
    // vec_ids and silently corrupting planted_recall.
    val plantOffset = scale.toLong * 100000000L
    val passes = sys.env.get("SPARK_GRAFT_SCALE_PASSES")
      .flatMap(_.trim.toIntOption).getOrElse(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Probe selection (comma list): re-run one probe and merge its entry
    // into SCALEPROBE.json without paying for the others.
    val probes = sys.env.getOrElse("SPARK_GRAFT_PROBES",
        "pair_join_scale,clusters_chain,ann_scale,ivf_recall_curve,ivf_maintain,ivf_autotune,pq_drift,asof_skew,skew_autostrategy,asof_merge_scale,cdf_scale,delete_scale,asof_enrich_stream,sessionize_stream,snapshot_cluster,zorder_cluster,zorder_drift,zorder_maintain,zorder_gauge,pq_crossover,pq_bytes,line_dedup_scale,bpe_train,embcos_scale,semdedup_scale,minhash_planted_scale,packing_skew,image_dedup_scale,shared_spans_scale,events_scale,charlm_scale,heavy_hitters_scale,incremental_dedup_scale,index_delete_scale")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (probes("pair_join_scale")) {
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    def rotated(i: Int) = alpha.drop(i % 26) + alpha.take(i % 26)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val scaled = (0 until scale).map { i =>
      docs.select(
        (col("doc_id") + lit(i.toLong * 100000000L)).as("doc_id"),
        translate(lower(col("text")), alpha, rotated(i)).as("text"))
    }.reduce(_ union _)
    val path = java.nio.file.Files.createTempDirectory("graft_scale")
      .resolve("documents.parquet").toString
    scaled.repartition(cpus.toInt).write.mode("overwrite").parquet(path)
    val nDocs = spark.read.parquet(path).count()

    def corpus = spark.read.parquet(path)
    // strategies are PINNED per variant: the default is now the stats-
    // gated "auto", which escalates dense char-gram corpora to minhash on
    // its own — an unpinned "single" variant would silently measure the
    // escalated path instead of the one its label names
    val variants: Seq[(String, () => Long)] = Seq(
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
        maxDf = 50L * scale, strategy = "auto").count())
    )
    val results = variants.map { case (name, run) =>
      val times = (1 to passes).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val rows = run()
        val secs = (System.nanoTime() - t0) / 1e9
        (secs, rows)
      }
      name -> (times.map(_._1).min, times.head._2)
    }
    val qs = results.map { case (k, (secs, rows)) =>
      s""""$k":{"sec":$secs,"rows":$rows}"""
    }.mkString("{", ",", "}")
    val entry = s"""{"scale":$scale,"docs":$nDocs,""" +
      s""""passes":$passes,"variants":$qs,"sf":"$sfDir"}"""
    println(s"""{"probe":"pair_join_scale",${entry.tail}""")
    writeArtifact("pair_join_scale", entry)
    }

    if (probes("clusters_chain")) {
    // Deep-chain clusters probe: the adversarial shape for min-label
    // propagation (diameter = chain length, so plain propagation pays one
    // distributed hop per level) vs pointer doubling (O(log diameter)
    // hops). Real near-dup graphs are shallow — this measures the
    // pathological tail. Three variants since the adaptive escalation
    // landed: pure propagation (adaptAfter disabled), the DEFAULT
    // arguments (plain hops until adaptAfter, then path-halving), and
    // doubling forced from the first hop.
    val chainLen = 64
    val nChains = 3000
    val chainEdges = spark.range(0L, chainLen.toLong * nChains)
      .filter(col("id") % chainLen =!= (chainLen - 1)) // no edge across chains
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      .repartition(cpus.toInt)
      .persist()
    chainEdges.count()
    val clusterVariants: Seq[(String, () => Long)] = Seq(
      "propagate" -> (() => Dedup.clusters(chainEdges, maxIter = 200,
          adaptAfter = Int.MaxValue)
        .select(countDistinct("cluster")).as[Long](spark.implicits.newLongEncoder)
        .head()),
      "adaptive_default" -> (() => Dedup.clusters(chainEdges, maxIter = 200)
        .select(countDistinct("cluster")).as[Long](spark.implicits.newLongEncoder)
        .head()),
      "pointer_doubling" -> (() => Dedup.clusters(chainEdges, maxIter = 200,
          pointerDoubling = true)
        .select(countDistinct("cluster")).as[Long](spark.implicits.newLongEncoder)
        .head())
    )
    val cResults = clusterVariants.map { case (name, run) =>
      val times = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        val nClusters = run()
        ((System.nanoTime() - t0) / 1e9, nClusters)
      }
      name -> (times.map(_._1).min, times.head._2)
    }
    cResults.foreach { case (name, (_, nClusters)) =>
      require(nClusters == nChains,
        s"clusters_chain/$name resolved $nClusters components, expected $nChains")
    }
    val cq = cResults.map { case (k, (secs, n)) =>
      s""""$k":{"sec":$secs,"clusters":$n}"""
    }.mkString("{", ",", "}")
    val cEntry = s"""{"chain_len":$chainLen,"chains":$nChains,""" +
      s""""passes":$passes,"variants":$cq}"""
    println(s"""{"probe":"clusters_chain",${cEntry.tail}""")
    writeArtifact("clusters_chain", cEntry)
    }

    if (probes("ann_scale")) {
    // ANN probe at SCALE×: per-query-batch cost of brute force (scores
    // every corpus row) vs the PERSISTED index (ivfPqBuild once — paid
    // separately and reported as index_build_sec — then ivfPqProbeTopK
    // reads only the probed ~nProbe/nCells of the data via static
    // partition pruning, ADC-scores their codes and re-ranks the
    // shortlist with persisted norms). The INLINE ivfTopK is deliberately not
    // the variant here: its per-call cell assignment does nCells dot
    // products per corpus row, which can never beat a 20-query brute pass
    // (20 < nCells) — the amortized index is the actual scale path.
    // Replicas reuse the same vectors (cell populations scale linearly,
    // like a denser crawl of the same distribution); queries are a fixed
    // 20-vector batch.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val embScaled = (0 until scale).map { i =>
      emb.select((col("vec_id") + lit(i.toLong * 100000000L)).as("vec_id"),
        col("embedding"))
    }.reduce(_ union _)
    val embPath = java.nio.file.Files.createTempDirectory("graft_ann")
      .resolve("embeddings.parquet").toString
    embScaled.repartition(cpus.toInt).write.mode("overwrite").parquet(embPath)
    val annCorpus = spark.read.parquet(embPath)
    val nVecs = annCorpus.count()
    val annQueries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val ivfPath = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    // the √n heuristic (autoCells) picks the list count; probe 1/8 of the
    // cells so the scored fraction matches the old fixed 8-of-64 config
    val cells = Similarity.autoCells(nVecs)
    val nProbe = math.max(1, cells / 8)
    val tBuild = System.nanoTime()
    // pass the pre-computed cell count: the label and the built index then
    // agree by construction, and ivfPqBuild skips its own corpus count
    Similarity.ivfPqBuild(annCorpus, "embedding", ivfPath, nCells = cells,
      m = 16, ksub = 16)
    val buildSec = (System.nanoTime() - tBuild) / 1e9
    // flat PQ amortized regime, same accounting: fit + encode paid once
    // (pq_encode_sec), the per-batch cost is the ADC scan over the
    // persisted (id, codes, norm) parquet — 16 byte-codes per row instead
    // of 64 floats — plus the exact re-rank of the bounded shortlist.
    val tPq = System.nanoTime()
    val pqModel = Similarity.fitPq(annCorpus, "embedding", m = 16, ksub = 16)
    val pqPath = java.nio.file.Files.createTempDirectory("graft_pq")
      .resolve("encoded.parquet").toString
    Similarity.pqEncode(annCorpus, "embedding", pqModel).drop("embedding")
      .write.mode("overwrite").parquet(pqPath)
    val pqEncodeSec = (System.nanoTime() - tPq) / 1e9
    val pqEncoded = spark.read.parquet(pqPath)
    val annVariants: Seq[(String, () => Long)] = Seq(
      "brute_force" -> (() => Similarity.bruteForceTopK(
        annCorpus, annQueries, "embedding", "vec_id", "query_id",
        k = 10).count()),
      s"ivfpq_probe_nprobe${nProbe}_of$cells" -> (() => Similarity.ivfPqProbeTopK(
        spark, ivfPath, annQueries, "embedding", "vec_id", "query_id",
        k = 10, nProbe = nProbe, shortlistFactor = 8).count()),
      "pq_adc_m16" -> (() => Similarity.pqTopKEncoded(
        pqEncoded, annCorpus, pqModel, annQueries, "embedding", "vec_id",
        "query_id", k = 10, shortlistFactor = 8).count())
    )
    val annResults = annVariants.map { case (name, run) =>
      val times = (1 to passes).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val rows = run()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      name -> (times.map(_._1).min, times.head._2)
    }
    val aq = annResults.map { case (k, (secs, rows)) =>
      s""""$k":{"sec":$secs,"rows":$rows}"""
    }.mkString("{", ",", "}")
    val aEntry = s"""{"scale":$scale,"vectors":$nVecs,"queries":20,""" +
      s""""passes":$passes,"index_build_sec":$buildSec,"cells":$cells,""" +
      s""""pq_encode_sec":$pqEncodeSec,""" +
      s""""variants":$aq,"sf":"$sfDir"}"""
    println(s"""{"probe":"ann_scale",${aEntry.tail}""")
    writeArtifact("ann_scale", aEntry)
    }
    if (probes("ivf_recall_curve")) {
    // What the nProbe knob buys: sweep the probed-cell budget on a
    // persisted index at SCALE× and record recall@10 (vs brute force) and
    // wall per 20-query batch — the context for ivf_maintain's
    // partial-probe recall numbers. The shortlist is held deep (factor
    // 32) so the sweep isolates the probe width, not ADC truncation.
    // Replicas here are array
    // ROTATIONS of the base vectors (distinct directions, same norm/
    // coordinate distribution) rather than ann_scale's verbatim copies:
    // verbatim copies make every true neighbor a co-located duplicate of
    // the query's own cell — recall@10 degenerates to 1.0 at any probe
    // budget. The base copies of the query vectors are excluded from the
    // corpus for the same reason.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val embScaled = (0 until scale).map { i =>
      emb.select((col("vec_id") + lit(i.toLong * 100000000L)).as("vec_id"),
        rotate64(col("embedding"), (i * 7) % 64).as("embedding"))
    }.reduce(_ union _)
    val rcPath = java.nio.file.Files.createTempDirectory("graft_ivf_rc")
      .resolve("embeddings.parquet").toString
    embScaled.repartition(cpus.toInt).write.mode("overwrite").parquet(rcPath)
    val rcCorpus = spark.read.parquet(rcPath).filter(col("vec_id") >= 20)
    val nRcVecs = rcCorpus.count()
    val rcQueries = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val rcIdx = java.nio.file.Files.createTempDirectory("graft_ivf_rci")
      .toString
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
      val times = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        val hits = Similarity.ivfPqProbeTopK(spark, rcIdx, rcQueries,
            "embedding", "vec_id", "query_id", k = 10, nProbe = np,
            shortlistFactor = 32)
          .select("query_id", "vec_id")
          .join(rcBrute, Seq("query_id", "vec_id"), "left_semi").count()
        ((System.nanoTime() - t0) / 1e9, hits)
      }
      (label, np, times.map(_._1).min, times.head._2 / rcBruteN)
    }
    rcBrute.unpersist()
    val rq = rcResults.map { case (label, np, secs, recall) =>
      s""""$label":{"n_probe":$np,"sec":$secs,"recall_at_10":$recall}"""
    }.mkString("{", ",", "}")
    val rcEntry = s"""{"scale":$scale,"vectors":$nRcVecs,"queries":20,""" +
      s""""cells":$rcCells,"passes":$passes,"variants":$rq,"sf":"$sfDir"}"""
    println(s"""{"probe":"ivf_recall_curve",${rcEntry.tail}""")
    writeArtifact("ivf_recall_curve", rcEntry)
    }

    if (probes("embcos_scale")) {
    // The redesigned embcos_pairs regime at SCALE×: selective sign-LSH
    // banding (12 planes × 4 tables) + planted ×2-scaled duplicates of a
    // 10% md5 coin. Claims under test: planted recall stays exactly 1.0
    // (structural — identical hyperplane signs — not statistical) and
    // wall stays corpus-linear: candidates are the planted pairs plus the
    // ~0.1% random-collision floor, never the half-of-all-pairs a
    // recall-dense threshold-0.4 banding produces. Replicas are rotations
    // (distinct directions), as in ivf_recall_curve.
    val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val embR = (0 until scale).map { i =>
      emb0.select((col("vec_id") + lit(i.toLong * 100000000L)).as("vec_id"),
        rotate64(col("embedding"), (i * 7) % 64).as("embedding"))
    }.reduce(_ union _)
    val ePath = java.nio.file.Files.createTempDirectory("graft_embsc")
      .resolve("embeddings.parquet").toString
    embR.repartition(cpus.toInt).write.mode("overwrite").parquet(ePath)
    val eBase = spark.read.parquet(ePath)
    val nEVecs = eBase.count()
    val ePlanted = eBase
      .filter(substring(md5(col("vec_id").cast("string")), 1, 8) <
        lit(graft.functions.TextFunctions.coinThreshold(0.1)))
    val nPlanted = ePlanted.count()
    val eCorpus = eBase.unionByName(ePlanted
      .select((col("vec_id") + plantOffset).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
    val eTimes = (1 to passes).map { _ =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val found = Dedup.embeddingCosine(eCorpus, "embedding", "vec_id",
          threshold = 0.9, nPlanes = 12, tables = 4)
        .filter(col("id_b") - col("id_a") === plantOffset).count()
      ((System.nanoTime() - t0) / 1e9, found)
    }
    val eEntry = s"""{"scale":$scale,"vectors":$nEVecs,""" +
      s""""planted":$nPlanted,"passes":$passes,""" +
      s""""sec":${eTimes.map(_._1).min},""" +
      s""""planted_found":${eTimes.head._2},""" +
      s""""planted_recall":${eTimes.head._2.toDouble / nPlanted},""" +
      s""""sf":"$sfDir"}"""
    println(s"""{"probe":"embcos_scale",${eEntry.tail}""")
    writeArtifact("embcos_scale", eEntry)
    }

    if (probes("semdedup_scale")) {
    // Cluster-then-prune (SemDeDup) + kNN graph at SCALE×, same planted
    // corpus construction as embcos_scale. Claims under test: (a) planted
    // recall under the OPERATOR DEFAULTS (maxCell cap live, auto cells)
    // stays at 1.0 — rotated replicas spread directions, so cells stay
    // near the n/nCells mean instead of collapsing onto a few directions
    // and tripping the cap; (b) wall tracks the within-cell candidate
    // volume ~n²/nCells, the published cluster-prune cost model; (c) the
    // kNN-graph build (knnJoin, nProbe = 1) over the same corpus stays in
    // the same wall band — it scores the same cells, bounded by the
    // map-side top-k aggregate instead of a pair filter.
    val sd0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val sdR = (0 until scale).map { i =>
      sd0.select((col("vec_id") + lit(i.toLong * 100000000L)).as("vec_id"),
        rotate64(col("embedding"), (i * 7) % 64).as("embedding"))
    }.reduce(_ union _)
    val sdPath = java.nio.file.Files.createTempDirectory("graft_sdsc")
      .resolve("embeddings.parquet").toString
    sdR.repartition(cpus.toInt).write.mode("overwrite").parquet(sdPath)
    val sdBase = spark.read.parquet(sdPath)
    val nSdVecs = sdBase.count()
    val sdPlanted = sdBase
      .filter(substring(md5(col("vec_id").cast("string")), 1, 8) <
        lit(graft.functions.TextFunctions.coinThreshold(0.1)))
    val nSdPlanted = sdPlanted.count()
    val sdCorpus = sdBase.unionByName(sdPlanted
      .select((col("vec_id") + plantOffset).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
    val sdTimes = (1 to passes).map { _ =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val found = Dedup.semanticDedupPairs(sdCorpus, "embedding", "vec_id",
          threshold = 0.9)
        .filter(col("id_b") - col("id_a") === plantOffset).count()
      ((System.nanoTime() - t0) / 1e9, found)
    }
    val knnTimes = (1 to passes).map { _ =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val edges = Similarity.knnJoin(sdCorpus, "embedding", "vec_id", k = 3)
        .count()
      ((System.nanoTime() - t0) / 1e9, edges)
    }
    val sdEntry = s"""{"scale":$scale,"vectors":$nSdVecs,""" +
      s""""planted":$nSdPlanted,"passes":$passes,""" +
      s""""sec_pairs":${sdTimes.map(_._1).min},""" +
      s""""planted_found":${sdTimes.head._2},""" +
      s""""planted_recall":${sdTimes.head._2.toDouble / nSdPlanted},""" +
      s""""sec_knn":${knnTimes.map(_._1).min},""" +
      s""""knn_edges":${knnTimes.head._2},""" +
      s""""sf":"$sfDir"}"""
    println(s"""{"probe":"semdedup_scale",${sdEntry.tail}""")
    writeArtifact("semdedup_scale", sdEntry)
    }

    if (probes("packing_skew")) {
    // Packing under shard skew: packSequences' parallelism is the shard
    // count (one O(1)-state walker per shard), so its worst case is a
    // shard holding a disproportionate share of the corpus — that walker
    // runs serially over its whole shard. Measured shapes: 64 uniform
    // shards vs one shard holding 50% of all documents (the other half
    // spread over 63). The probe records the wall-time ratio; the guard
    // decision (split hot shards, e.g. by sub-sharding on id ranges)
    // is taken only if the ratio demands it — see PLANS.md.
    val pDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val pScaled = (0 until scale).map { i =>
      pDocs.select((col("doc_id") + lit(i.toLong * 100000000L)).as("doc_id"),
        col("text"))
    }.reduce(_ union _)
    val packPath = java.nio.file.Files.createTempDirectory("graft_pack")
      .resolve("docs.parquet").toString
    pScaled.select(col("doc_id"),
        graft.functions.TextFunctions.tokenCount(col("text")).cast("long")
          .as("n_tokens"))
      .repartition(cpus.toInt).write.mode("overwrite").parquet(packPath)
    val packBase = spark.read.parquet(packPath)
    val nPackDocs = packBase.count()
    val packVariants: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      // 64 uniform shards: every walker gets ~1/64 of the corpus
      "uniform_64" -> pmod(col("doc_id"), lit(64)).cast("int"),
      // hot shard: even ids (50% of docs) all in shard 0
      "skewed_50pct" -> when(col("doc_id") % 2 === 0, lit(0))
        .otherwise(pmod(col("doc_id"), lit(63)).cast("int") + 1))
    val packResults = packVariants.map { case (name, shardExpr) =>
      val times = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        val bins = Packing.packSequences(
            packBase.withColumn("shard", shardExpr),
            "doc_id", "n_tokens", capacity = 2048L, shardCol = "shard")
          .select(countDistinct(col("shard"), col("seq")))
          .as[Long](spark.implicits.newLongEncoder).head()
        ((System.nanoTime() - t0) / 1e9, bins)
      }
      name -> (times.map(_._1).min, times.head._2)
    }
    val pq = packResults.map { case (k, (secs, bins)) =>
      s""""$k":{"sec":$secs,"bins":$bins}"""
    }.mkString("{", ",", "}")
    val pEntry = s"""{"scale":$scale,"docs":$nPackDocs,"passes":$passes,""" +
      s""""capacity":2048,"variants":$pq,"sf":"$sfDir"}"""
    println(s"""{"probe":"packing_skew",${pEntry.tail}""")
    writeArtifact("packing_skew", pEntry)
    }

    if (probes("shared_spans_scale")) {
    // Verbatim-span forensics at SCALE×: the positional-gram self-join is
    // the same inverted-index family as pair_join_scale (letter-rotated
    // replicas keep gram sets disjoint, so workload scales linearly) plus
    // the per-(pair, diagonal) window. The claim under test: wall time
    // stays corpus-linear under the maxDf stop-gram guard — no quadratic
    // term from the positional explode (duplicates kept, unlike the
    // deduplicating shingle operators).
    val alpha2 = "abcdefghijklmnopqrstuvwxyz"
    def rotated2(i: Int) = alpha2.drop(i % 26) + alpha2.take(i % 26)
    val sDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val sScaled = (0 until scale).map { i =>
      sDocs.select(
        (col("doc_id") + lit(i.toLong * 100000000L)).as("doc_id"),
        translate(lower(col("text")), alpha2, rotated2(i)).as("text"))
    }.reduce(_ union _)
    val spanPath = java.nio.file.Files.createTempDirectory("graft_spans")
      .resolve("docs.parquet").toString
    sScaled.repartition(cpus.toInt).write.mode("overwrite").parquet(spanPath)
    val spanBase = spark.read.parquet(spanPath)
    val nSpanDocs = spanBase.count()
    val spanTimes = (1 to passes).map { _ =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val rows = Dedup.sharedSpans(spanBase, "text", "doc_id",
        shingleSize = 6, minSpanTokens = 12, maxDf = 1000L * scale).count()
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    val sEntry = s"""{"scale":$scale,"docs":$nSpanDocs,"passes":$passes,""" +
      s""""sec":${spanTimes.map(_._1).min},"rows":${spanTimes.head._2},""" +
      s""""sf":"$sfDir"}"""
    println(s"""{"probe":"shared_spans_scale",${sEntry.tail}""")
    writeArtifact("shared_spans_scale", sEntry)
    }

    if (probes("image_dedup_scale")) {
    // Image near-dup at SCALE×: synthesize one 64×64 block-texture PNG per
    // document (replicas get per-replica payload salts, so their dHashes
    // are independent — pair structure stays per-replica, workload scales
    // linearly), plant a 48×48 resized copy of every image, and measure
    // imageDHashPairs wall time + planted recall at 2·docs·SCALE images.
    // The claim under test: the codec chain is corpus-linear scan-side
    // work and candidate generation stays banded (no quadratic blowup as
    // the image count grows).
    val iDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val iScaled = (0 until scale).map { i =>
      iDocs.select((col("doc_id") + lit(i.toLong * 100000000L)).as("doc_id"),
        concat(lit(s"salt$i "), col("text")).as("text"))
    }.reduce(_ union _)
    val imgPath = java.nio.file.Files.createTempDirectory("graft_imgscale")
      .resolve("docs.parquet").toString
    iScaled.repartition(cpus.toInt).write.mode("overwrite").parquet(imgPath)
    val iBase = spark.read.parquet(imgPath)
    val nImgDocs = iBase.count()
    val payload = concat(unhex(md5(col("text"))),
      unhex(md5(concat(lit("a"), col("text")))),
      unhex(md5(concat(lit("b"), col("text")))),
      unhex(md5(concat(lit("c"), col("text")))))
    val times = (1 to passes).map { _ =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val orig = iBase.select(col("doc_id"),
          graft.functions.GrayPngExpr(payload, 64, 64, 8).as("png"))
        .persist()
      val dup = orig.select((col("doc_id") + lit(plantOffset)).as("doc_id"),
        graft.functions.ImageResizeExpr(col("png"), 48, 48).as("png"))
      val pairs = Dedup.imageDHashPairs(orig.unionByName(dup), "png",
        "doc_id", chunks = 8, maxHamming = 6)
      val planted = pairs
        .filter(col("id_b") - col("id_a") === plantOffset).count()
      val secs = (System.nanoTime() - t0) / 1e9
      orig.unpersist()
      (secs, planted)
    }
    val iEntry = s"""{"scale":$scale,"docs":$nImgDocs,""" +
      s""""images":${2 * nImgDocs},"passes":$passes,""" +
      s""""sec":${times.map(_._1).min},""" +
      s""""planted_found":${times.head._2},""" +
      s""""planted_recall":${times.head._2.toDouble / nImgDocs},""" +
      s""""sf":"$sfDir"}"""
    println(s"""{"probe":"image_dedup_scale",${iEntry.tail}""")
    writeArtifact("image_dedup_scale", iEntry)
    }

    if (probes("events_scale")) {
    // The two event-time join shapes at SCALE×: the union-and-carry as-of
    // join (one key shuffle + one window pass, Joins.asOfJoin) and the
    // banded interval join (plain equi-join on (user, time-bin), ≤3 bin
    // probes per left row, Joins.bandedIntervalJoin). Replicas shift
    // user_id into disjoint bands — per-user event counts and time
    // density are unchanged, so match structure stays per-replica and the
    // workload (shuffle rows, window length, bin fan-out) scales linearly
    // the way a larger user population would. Claims under test: output
    // rows are EXACTLY scale× the base (disjoint bands make this
    // structural) and wall grows ~linearly — no per-key blowup hides in
    // the window pass or the bin explode. Ingestion is fixture-vintage-
    // proof via Tables.withEventTimestamp (round-11 regeneration
    // postmortem).
    val ev0 = graft.sources.Tables.withEventTimestamp(
        spark.read.parquet(s"$sfDir/events.parquet"))
      .select("event_id", "ts", "user_id", "event_type")
    val evScaled = (0 until scale).map { i =>
      ev0.select(
        (col("event_id") + lit(i.toLong * 100000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(i.toLong * 100000000L)).as("user_id"),
        col("event_type"))
    }.reduce(_ union _)
    val evPath = java.nio.file.Files.createTempDirectory("graft_evsc")
      .resolve("events.parquet").toString
    evScaled.repartition(cpus.toInt).write.mode("overwrite").parquet(evPath)
    val evBig = spark.read.parquet(evPath)
    val nEv = evBig.count()
    def asofRows(ev: org.apache.spark.sql.DataFrame): Long = {
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      Joins.asOfJoin(purchases, clicks, Seq("user_id"), "ts", "click_ts")
        .count()
    }
    def intervalRows(ev: org.apache.spark.sql.DataFrame): Long = {
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      Joins.bandedIntervalJoin(clicks, views, "user_id", "ts", "ts",
        lowerSec = 0L, upperSec = 600L).count()
    }
    def timeIt(f: => Long): (Double, Long) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val asofBase = (1 to passes).map(_ => timeIt(asofRows(ev0)))
    val asofBig = (1 to passes).map(_ => timeIt(asofRows(evBig)))
    val intBase = (1 to passes).map(_ => timeIt(intervalRows(ev0)))
    val intBig = (1 to passes).map(_ => timeIt(intervalRows(evBig)))
    val linear =
      asofBig.head._2 == scale * asofBase.head._2 &&
      intBig.head._2 == scale * intBase.head._2
    val evEntry = s"""{"scale":$scale,"events":$nEv,"passes":$passes,""" +
      s""""asof_base_sec":${asofBase.map(_._1).min},""" +
      s""""asof_scaled_sec":${asofBig.map(_._1).min},""" +
      s""""asof_rows_base":${asofBase.head._2},""" +
      s""""asof_rows_scaled":${asofBig.head._2},""" +
      s""""interval_base_sec":${intBase.map(_._1).min},""" +
      s""""interval_scaled_sec":${intBig.map(_._1).min},""" +
      s""""interval_rows_base":${intBase.head._2},""" +
      s""""interval_rows_scaled":${intBig.head._2},""" +
      s""""rows_exactly_linear":$linear,""" +
      s""""sf":"$sfDir"}"""
    println(s"""{"probe":"events_scale",${evEntry.tail}""")
    writeArtifact("events_scale", evEntry)
    }

    if (probes("charlm_scale")) {
    // Char-LM quality scoring at SCALE×: the model pass (explode →
    // map-side-combined gram counts → TakeOrderedAndProject topV cut) and
    // the scoring pass (broadcast model join into the exploded scan →
    // per-doc re-agg) are both corpus-linear by construction; this
    // measures it. Letter-rotated replicas keep per-replica gram
    // distributions distinct (a verbatim copy would just multiply every
    // count by SCALE and leave the model identical — too easy), the same
    // trick as pair_join_scale.
    val lmAlpha = "abcdefghijklmnopqrstuvwxyz"
    def lmRot(i: Int) = lmAlpha.drop(i % 26) + lmAlpha.take(i % 26)
    val lmDocs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val lmScaled = (0 until scale).map { i =>
      lmDocs.select(
        (col("doc_id") + lit(i.toLong * 100000000L)).as("doc_id"),
        translate(lower(col("text")), lmAlpha, lmRot(i)).as("text"))
    }.reduce(_ union _)
    val lmTmp = java.nio.file.Files.createTempDirectory("graft_lmsc")
    val lmPath = lmTmp.resolve("docs.parquet").toString
    lmScaled.repartition(cpus.toInt).write.mode("overwrite").parquet(lmPath)
    val lmBase = spark.read.parquet(lmPath)
    val nLmDocs = lmBase.count()
    // stage the 1× corpus identically (same partition count, same source
    // layout) — the raw fixture is a single file whose few splits would
    // under-parallelize the base leg and fake a sublinear ratio
    val lmBasePath = lmTmp.resolve("docs_base.parquet").toString
    lmDocs.repartition(cpus.toInt).write.mode("overwrite").parquet(lmBasePath)
    val lmSmallDf = spark.read.parquet(lmBasePath)
    // the action must READ the score columns: a bare count() of the final
    // unique-key left join lets Catalyst eliminate the join and prune the
    // whole model+score computation away (measured: 10× the docs, same
    // wall). Summing the outputs forces every stage to run.
    def lmRun(docs: org.apache.spark.sql.DataFrame): (Double, Long) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val out = graft.operators.CorpusStats
        .charLmScore(docs, "text", "doc_id", n = 3, topV = 5000)
        .agg(count(lit(1)).as("rows"), sum("freq_sum"), sum("oov"))
        .collect()(0)
      ((System.nanoTime() - t0) / 1e9, out.getLong(0))
    }
    lmRun(lmSmallDf) // discarded: JIT/codegen warmup must not bill the 1× leg
    val lmSmall = (1 to passes).map(_ => lmRun(lmSmallDf))
    val lmBig = (1 to passes).map(_ => lmRun(lmBase))
    val lmEntry = s"""{"scale":$scale,"docs":$nLmDocs,"passes":$passes,""" +
      s""""base_sec":${lmSmall.map(_._1).min},""" +
      s""""scaled_sec":${lmBig.map(_._1).min},""" +
      s""""rows_base":${lmSmall.head._2},""" +
      s""""rows_scaled":${lmBig.head._2},""" +
      s""""rows_exactly_linear":${lmBig.head._2 == scale * lmSmall.head._2},""" +
      s""""sf":"$sfDir"}"""
    println(s"""{"probe":"charlm_scale",${lmEntry.tail}""")
    writeArtifact("charlm_scale", lmEntry)
    }

    if (probes("heavy_hitters_scale")) {
    // MG sketch + restricted recount vs the full-vocabulary group-by at
    // SCALE×. Both are EXACT (the MG n/(k+1) survival guarantee makes
    // sketch+recount a proven superset, recounted exactly), so the
    // verified claim is OUTPUT IDENTITY; the timing records the cost
    // trade honestly. MEASURED at 10× (4M tokens, ~10× vocabulary,
    // single box): sketch 2.0s vs full group-by 1.1s — at local scale
    // the vocabulary exchange is in-memory-cheap and MG's per-token
    // hash-map update dominates. The sketch path's advantage is its
    // EXCHANGE VOLUME — O(k·partitions) buffers + a ≤k-key recount vs
    // O(distinct tokens) shuffled rows — which pays off when the
    // vocabulary exchange is network-bound and memory-pressured
    // (billions of distinct tokens across executors), not when it fits
    // a single box's shuffle. Replicas rotate the alphabet so the
    // vocabulary grows with scale (each rotation dilutes every token's
    // share by 1/scale), hence the lower φ = 0.05% threshold with
    // k = 4000 (1/(k+1) = 0.025% < φ keeps the guarantee strict).
    val hhAlpha = "abcdefghijklmnopqrstuvwxyz"
    def hhRot(i: Int) = hhAlpha.drop(i % 26) + hhAlpha.take(i % 26)
    val hhDocs = spark.read.parquet(s"$sfDir/documents.parquet")
    val hhScaled = (0 until scale).map { i =>
      hhDocs.select(translate(lower(col("text")), hhAlpha, hhRot(i)).as("text"))
    }.reduce(_ union _)
    val hhPath = java.nio.file.Files.createTempDirectory("graft_hhsc")
      .resolve("documents.parquet").toString
    hhScaled.repartition(cpus.toInt).write.mode("overwrite").parquet(hhPath)
    import graft.functions.{TextFunctions => HT}
    def hhToks = spark.read.parquet(hhPath)
      .select(HT.tokens(lower(col("text"))).as("__toks"))
    def hhFlat = hhToks.select(explode(col("__toks")).as("tok"))
    def hhTotal = hhFlat.agg(count(lit(1)).as("__n"))
    def sketchRecount(): org.apache.spark.sql.DataFrame = {
      val cands = hhToks
        .agg(graft.functions.MisraGriesAgg(col("__toks"), 4000).as("__mg"))
        .select(explode(col("__mg")).as("__c"))
        .select(col("__c.item").as("tok"))
      hhFlat.join(broadcast(cands), Seq("tok"))
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .crossJoin(hhTotal)
        .filter(col("cnt") * 10000 >= col("__n") * 5 && col("tok") =!= "")
        .select("tok", "cnt")
    }
    def fullGroupBy(): org.apache.spark.sql.DataFrame =
      hhFlat.groupBy("tok").agg(count(lit(1)).as("cnt"))
        .crossJoin(hhTotal)
        .filter(col("cnt") * 10000 >= col("__n") * 5 && col("tok") =!= "")
        .select("tok", "cnt")
    def timeSet(f: () => org.apache.spark.sql.DataFrame): (Double, Set[(String, Long)]) = {
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val rows = f().collect().map(r => (r.getString(0), r.getLong(1))).toSet
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    val hhSketch = (1 to passes).map(_ => timeSet(sketchRecount _))
    val hhFull = (1 to passes).map(_ => timeSet(fullGroupBy _))
    val hhEqual = hhSketch.head._2 == hhFull.head._2
    val hhEntry = s"""{"scale":$scale,"passes":$passes,""" +
      s""""sec_sketch_recount":${hhSketch.map(_._1).min},""" +
      s""""sec_full_groupby":${hhFull.map(_._1).min},""" +
      s""""rows":${hhSketch.head._2.size},""" +
      s""""outputs_identical":$hhEqual,""" +
      s""""sf":"$sfDir"}"""
    println(s"""{"probe":"heavy_hitters_scale",${hhEntry.tail}""")
    writeArtifact("heavy_hitters_scale", hhEntry)
    }

    if (probes("ivf_maintain")) {
    // Index-drift probe: build the index, append +50% mass concentrated
    // near ONE direction (0.7·hot + 0.3·vᵢ blends — distinct vectors, one
    // dense region: the "distribution shifted" regime ivfPqAppend warns
    // about), and measure default-width recall@10 and cell skew before the
    // append, after it, and after ivfPqMaintain's automatic rebuild. The
    // claim under test: maintain notices the skew, refits quantizer and
    // codebooks on the drifted distribution, and recall/balance recover
    // without manual intervention. Maintain runs WITH a recall target, so
    // "maintained" recall reflects the widths ivfPqCalibrate chose for the
    // rebuilt index.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val ivfMntPath = java.nio.file.Files.createTempDirectory("graft_ivf_mnt").toString
    val mq = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val corpus0 = emb.filter(col("vec_id") >= 20)
    def recallNow(corpusNow: org.apache.spark.sql.DataFrame): Double = {
      val brute = Similarity.bruteForceTopK(corpusNow, mq,
        "embedding", "vec_id", "query_id", k = 10).select("query_id", "vec_id")
      val probe = Similarity.ivfPqProbeTopK(spark, ivfMntPath, mq,
        "embedding", "vec_id", "query_id", k = 10).select("query_id", "vec_id")
      probe.join(brute, Seq("query_id", "vec_id"), "left_semi").count()
        .toDouble / brute.count()
    }
    def skewNow(): Double = {
      val counts = Similarity.ivfCellStats(spark, ivfMntPath)
        .select("n").as[Long](spark.implicits.newLongEncoder).collect()
      val nCells = spark.read.parquet(s"$ivfMntPath/centroids").count()
      counts.max.toDouble / (counts.sum.toDouble / nCells)
    }
    Similarity.ivfPqBuild(corpus0, "embedding", ivfMntPath, m = 16, ksub = 16)
    val recallBase = recallNow(corpus0)
    val skewBase = skewNow()
    val hotVec = corpus0.orderBy("vec_id").limit(1)
      .select(col("embedding").as("__hot"))
    val appended = corpus0.sample(withReplacement = false, 0.5, 42)
      .crossJoin(broadcast(hotVec))
      .select((col("vec_id") + 900000000L).as("vec_id"),
        transform(zip_with(col("embedding"), col("__hot"),
          (a, b) => a * lit(0.3) + b * lit(0.7)),
          x => x.cast("float")).as("embedding"))
    Similarity.ivfPqAppend(appended, "embedding", ivfMntPath)
    // the appended expression is deterministic (seeded sample, fixed
    // blend), so the union reconstructs the grown corpus without reading
    // back the index directory the rebuild below will replace
    val grown = corpus0.unionByName(appended)
    val recallDrifted = recallNow(grown)
    val skewDrifted = skewNow()
    val tMnt = System.nanoTime()
    val mntTarget = 0.9
    // maxSkew is in build-time units (ratio vs the recorded fit_skew)
    val decision = Similarity.ivfPqMaintain(spark, ivfMntPath, "embedding",
      maxSkew = 2.0, recallTarget = Some(mntTarget), idCol = "vec_id",
      maxShortlistFactor = 256)
    val maintainSec = (System.nanoTime() - tMnt) / 1e9
    val (mntNProbe, mntFactor) =
      Similarity.calibratedPqWidths(spark, ivfMntPath).getOrElse((-1, -1))
    val recallMaintained = recallNow(grown)
    val skewMaintained = skewNow()
    val mEntry = s"""{"index":"ivf-pq","base_vectors":${corpus0.count()},""" +
      s""""appended":${appended.count()},"decision":"$decision",""" +
      s""""maintain_sec":$maintainSec,""" +
      s""""recall_target":$mntTarget,"calibrated_nprobe":$mntNProbe,""" +
      s""""calibrated_shortlist_factor":$mntFactor,""" +
      s""""recall":{"base":$recallBase,"drifted":$recallDrifted,""" +
      s""""maintained":$recallMaintained},""" +
      s""""skew":{"base":$skewBase,"drifted":$skewDrifted,""" +
      s""""maintained":$skewMaintained},"sf":"$sfDir"}"""
    println(s"""{"probe":"ivf_maintain",${mEntry.tail}""")
    writeArtifact("ivf_maintain", mEntry)
    }

    if (probes("ivf_autotune")) {
    // Recall-targeted width calibration on DRIFTED data — the operational
    // answer to ivf_maintain's finding that default-width recall collapses
    // once appended mass concentrates: instead of a table and caller
    // judgment, ivfPqCalibrate measures the index's own recall over the
    // (nProbe, shortlist) plane (one bounded self-sample) and persists the
    // widths that meet the target, which ivfPqProbeTopK's defaults then
    // use. Claims under test: (a) on the drifted, UN-rebuilt index the
    // calibrated defaults restore recall ≥ target for corpus-distribution
    // queries; (b) after ivfPqMaintain(recallTarget=…) rebuilds, the
    // post-rebuild recalibration holds the target on the refit model too.
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val atPath = java.nio.file.Files.createTempDirectory("graft_ivf_at").toString
    val baseQ = emb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val corpus0 = emb.filter(col("vec_id") >= 20)
    val target = 0.9
    // the shortlist cap is raised for the same reason as in pq_drift: a
    // 0.9 target on a drifted corpus can be cap-bound at the default 64
    val maxFactor = 256
    // recall of the DEFAULT-width probe (calibrated once pqcal.json
    // exists) against brute force, for an arbitrary query set
    def recallDefault(corpusNow: org.apache.spark.sql.DataFrame,
                      qs: org.apache.spark.sql.DataFrame): Double = {
      val brute = Similarity.bruteForceTopK(corpusNow, qs,
        "embedding", "vec_id", "query_id", k = 10).select("query_id", "vec_id")
      val probe = Similarity.ivfPqProbeTopK(spark, atPath, qs,
        "embedding", "vec_id", "query_id", k = 10).select("query_id", "vec_id")
      probe.join(brute, Seq("query_id", "vec_id"), "left_semi").count()
        .toDouble / brute.count()
    }
    Similarity.ivfPqBuild(corpus0, "embedding", atPath, m = 16, ksub = 16)
    // same drift recipe as ivf_maintain: +50% mass blended toward one
    // hot direction
    val hotVec = corpus0.orderBy("vec_id").limit(1)
      .select(col("embedding").as("__hot"))
    val appended = corpus0.sample(withReplacement = false, 0.5, 42)
      .crossJoin(broadcast(hotVec))
      .select((col("vec_id") + 900000000L).as("vec_id"),
        transform(zip_with(col("embedding"), col("__hot"),
          (a, b) => a * lit(0.3) + b * lit(0.7)),
          x => x.cast("float")).as("embedding"))
    Similarity.ivfPqAppend(appended, "embedding", atPath)
    val grown = corpus0.unionByName(appended)
    // corpus-distribution queries (20 members of the drifted corpus) —
    // the population the self-sample calibration speaks for; baseQ is the
    // out-of-distribution comparison set
    val selfQ = grown.filter(col("vec_id") % 37 === 0).limit(20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val recallUncalSelf = recallDefault(grown, selfQ)
    val recallUncalBase = recallDefault(grown, baseQ)
    val tCal = System.nanoTime()
    val (chosen, chosenFactor) = Similarity.ivfPqCalibrate(spark, atPath,
      "embedding", "vec_id", target = target, k = 10, sampleQueries = 64,
      maxShortlistFactor = maxFactor)
    val calSec = (System.nanoTime() - tCal) / 1e9
    val recallCalSelf = recallDefault(grown, selfQ)
    val recallCalBase = recallDefault(grown, baseQ)
    // maintain with a recall target: rebuild on the drifted distribution,
    // then the post-rebuild recalibration must hold the target as well
    val decision = Similarity.ivfPqMaintain(spark, atPath, "embedding",
      maxSkew = 2.0, recallTarget = Some(target), idCol = "vec_id",
      maxShortlistFactor = maxFactor)
    val (chosenAfter, factorAfter) =
      Similarity.calibratedPqWidths(spark, atPath).getOrElse((-1, -1))
    val cellsAfter = spark.read.parquet(s"$atPath/centroids").count()
    val recallMntSelf = recallDefault(grown, selfQ)
    val recallMntBase = recallDefault(grown, baseQ)
    val atEntry = s"""{"index":"ivf-pq","vectors":${grown.count()},""" +
      s""""target":$target,"calibrate_sec":$calSec,""" +
      s""""chosen_nprobe":$chosen,"chosen_shortlist_factor":$chosenFactor,""" +
      s""""decision":"$decision",""" +
      s""""chosen_nprobe_after_rebuild":$chosenAfter,""" +
      s""""chosen_shortlist_factor_after_rebuild":$factorAfter,""" +
      s""""cells_after_rebuild":$cellsAfter,""" +
      s""""recall_self_queries":{"uncalibrated":$recallUncalSelf,""" +
      s""""calibrated":$recallCalSelf,"maintained":$recallMntSelf},""" +
      s""""recall_base_queries":{"uncalibrated":$recallUncalBase,""" +
      s""""calibrated":$recallCalBase,"maintained":$recallMntBase},""" +
      s""""sf":"$sfDir"}"""
    println(s"""{"probe":"ivf_autotune",${atEntry.tail}""")
    writeArtifact("ivf_autotune", atEntry)
    }

    if (probes("pq_drift")) {
    // Codebook-drift probe: ivfPqAppend encodes appended mass with the
    // FROZEN codebooks, and a shifted distribution quantizes badly — ADC
    // shortlist quality (hence recall) degrades gradually and SILENTLY,
    // because the exact re-rank keeps returned scores exact for whatever
    // the damaged shortlist retrieves. The claim under test: the
    // quantization-error gauge (ivfPqDriftStats, bounded sample — never
    // a full scan) reads ~1 fresh, detects the drift, ivfPqMaintain's
    // staged rebuild refits quantizer + codebooks on the current
    // distribution, and both the gauge AND partial-probe recall recover
    // automatically — mirroring ivf_maintain for the PQ half of the
    // index, the last maintenance-doctrine hole (r15 verdict).
    val embP = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    val elemP = embP.schema("embedding").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    val pqdPath = java.nio.file.Files
      .createTempDirectory("graft_pq_drift").toString
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
    def shiftP(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
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
    def recallWith(corpusNow: org.apache.spark.sql.DataFrame,
                   fixedWidths: Boolean): (Double, Double) = {
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
        val side = (q: org.apache.spark.sql.DataFrame) =>
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
    def recallP(corpusNow: org.apache.spark.sql.DataFrame)
        : (Double, Double) = recallWith(corpusNow, fixedWidths = true)
    Similarity.ivfPqBuild(corpus0P, "embedding", pqdPath, m = 16, ksub = 16)
    val ratioBaseP = Similarity.ivfPqDriftStats(spark, pqdPath,
      "embedding").ratio
    val (recallBaseP, _) = recallP(corpus0P) // no drifted rows/queries yet
    val appendedP = shiftP(corpus0P)
    Similarity.ivfPqAppend(appendedP, "embedding", pqdPath)
    val grownP = corpus0P.unionByName(appendedP)
    val ratioDriftP = Similarity.ivfPqDriftStats(spark, pqdPath,
      "embedding").ratio
    val (recallDriftOrigP, recallDriftShiftP) = recallP(grownP)
    // maintain WITH a recall target: the rebuild refits quantizer +
    // codebooks AND recalibrates both probe widths (nProbe, shortlist
    // factor) against the rebuilt index via ivfPqCalibrate — the r16
    // finding was that the rebuild restores MQE but recall stays below
    // base at FIXED widths, because fixed widths are a stale tuning for
    // the doubled corpus, not residual codebook damage
    val mntTargetP = 0.9
    val tMntP = System.nanoTime()
    // maxShortlistFactor raised from the 64 default: r17 measured the
    // calibration CAP-BOUND on this two-regime corpus (pqcal.json
    // recorded measured_recall 0.872 at nprobe=all-cells and factor=64 —
    // the documented shortfall fallback), so no confidence margin could
    // reach the target; the binding constraint was the cap. The deeper
    // re-rank is the honest price of a 0.9 target on a drifted corpus:
    // shortlist factor sizes only the exact re-rank's fan-in (Q·S·k
    // broadcast rows), not the scanned fraction — nProbe still owns
    // scan cost — so it stays O(queries), corpus-size-independent.
    val decisionP = Similarity.ivfPqMaintain(spark, pqdPath, "embedding",
      recallTarget = Some(mntTargetP), idCol = "vec_id",
      maxShortlistFactor = 256)
    val maintainSecP = (System.nanoTime() - tMntP) / 1e9
    val decisionAfterP = Similarity.ivfPqMaintain(spark, pqdPath, "embedding")
    val ratioAfterP = Similarity.ivfPqDriftStats(spark, pqdPath,
      "embedding").ratio
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
    val pqdEntry = s"""{"base_vectors":${corpus0P.count()},""" +
      s""""appended":${appendedP.count()},""" +
      s""""decision":"$decisionP","decision_after":"$decisionAfterP",""" +
      s""""maintain_sec":$maintainSecP,""" +
      s""""mqe_ratio":{"base":$ratioBaseP,"drifted":$ratioDriftP,""" +
      s""""maintained":$ratioAfterP},""" +
      s""""recall_base":$recallBaseP,""" +
      s""""recall_drifted":{"orig_queries":$recallDriftOrigP,""" +
      s""""drift_queries":$recallDriftShiftP},""" +
      s""""recall_maintained":{"orig_queries":$recallAfterOrigP,""" +
      s""""drift_queries":$recallAfterShiftP},""" +
      s""""recall_target":$mntTargetP,""" +
      s""""calibrated":{"nprobe":$calNProbeP,""" +
      s""""shortlist_factor":$calFactorP},""" +
      s""""recall_calibrated":{"orig_queries":$recallCalOrigP,""" +
      s""""drift_queries":$recallCalShiftP},""" +
      s""""signal":${decisionP == "rebuilt" && decisionAfterP == "ok" &&
        ratioDriftP > 2.0 && ratioAfterP < 1.5 &&
        // the fixed-width maintained-recall series is DIAGNOSTIC (it
        // fluctuates with the k-means draw: 0.35-0.44 measured across
        // runs, one draw landing 0.01 above the drifted 0.34) — the
        // recovery CONTRACT is the calibrated series, gated strictly at
        // the target on BOTH regimes; the fixed-width leg only guards
        // against a rebuild that makes things outright WORSE
        recallAfterShiftP >= recallDriftShiftP - 0.05 &&
        recallCalOrigP >= mntTargetP && recallCalShiftP >= mntTargetP},""" +
      s""""sf":"$sfDir"}"""
    println(s"""{"probe":"pq_drift",${pqdEntry.tail}""")
    writeArtifact("pq_drift", pqdEntry)
    }

    if (probes("asof_skew")) {
    // Hot-key resilience of the as-of/window family: asOfJoin's
    // union-and-carry, sessionize's lag+running-sum and gap_fill's
    // grid+carry all exchange on the KEY alone, so a hot key is ONE
    // straggler partition whose wall is that key's share of the work.
    // Plant 10% of all event mass on a single user (vs the uniform
    // replica corpus) and measure the wall ratio per shape at SCALE×.
    // Ratios near the hot share's task-count math (one task doing 10% of
    // rows vs 1/32 each ≈ 3x on the window stage) mean the plans degrade
    // PROPORTIONALLY — no quadratic cliff — which is the documented
    // bound; a salted two-phase carry only pays once one key dominates
    // the corpus outright.
    val ev0 = graft.sources.Tables.withEventTimestamp(
      spark.read.parquet(s"$sfDir/events.parquet"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
    val evScaled = (0 until scale).map { i =>
      ev0.select((col("event_id") + lit(i.toLong * 100000000L)).as("event_id"),
        (col("user_id") + lit(i.toLong * 1000000L)).as("user_id"),
        col("event_type"), col("ts"), col("value"))
    }.reduce(_ unionByName _)
    def persisted(df: org.apache.spark.sql.DataFrame, name: String) = {
      val p = java.nio.file.Files.createTempDirectory(s"graft_skew_$name")
        .resolve("events.parquet").toString
      df.repartition(cpus.toInt).write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    val uniform = persisted(evScaled, "uni")
    // one user receives every Nth row's mass — hot shares of 10% AND 40%
    // (the round-13 brief's harsher point, hunting the cliff)
    def hotAt(tenths: Int) = persisted(evScaled.withColumn("user_id",
      when(pmod(col("event_id"), lit(10)) < tenths, lit(1L))
        .otherwise(col("user_id"))), s"hot$tenths")
    def wall(f: => Long): Double =
      (1 to passes).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.min
    // count(click_id) reads the carried payload: a bare count() lets
    // column pruning drop the match column and with it the entire
    // carry window (measured: 0.25s "as-of" over 5M rows — the scan
    // alone), the same guard chargram_lm's bench entry documents. The
    // matched count doubles as a per-corpus cross-check: the bucketed
    // plan must reproduce the plain carry's matches exactly (require
    // below), so a fix-up regression fails the probe loudly instead of
    // shipping a timed-but-wrong artifact.
    def asofMatches(ev: org.apache.spark.sql.DataFrame,
                    bucketed: Boolean): Long = {
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val joined =
        if (bucketed)
          // the hot-key escape hatch: hourly buckets (~720 over the
          // fixture's 30-day span), so the hot key's carry splits
          Joins.asOfJoinBucketed(p, c, Seq("user_id"), "ts", "click_ts",
            Joins.timeBuckets(3600L))
        else Joins.asOfJoin(p, c, Seq("user_id"), "ts", "click_ts")
      joined.agg(count(col("click_id"))).head().getLong(0)
    }
    def asofWall(ev: org.apache.spark.sql.DataFrame): Double = {
      val plain = asofMatches(ev, bucketed = false)
      val buck = asofMatches(ev, bucketed = true)
      require(plain == buck,
        s"asOfJoinBucketed diverged from asOfJoin: $buck vs $plain matches")
      wall(asofMatches(ev, bucketed = false))
    }
    def asofBucketedWall(ev: org.apache.spark.sql.DataFrame): Double =
      wall(asofMatches(ev, bucketed = true))
    // same cross-check discipline as the as-of pair: session-count
    // equality between the plain window and the bucketed two-phase
    // prefix plan, required before the timings are trusted
    def sessSessions(ev: org.apache.spark.sql.DataFrame,
                     bucketed: Boolean): Long = {
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
    def sessWall(ev: org.apache.spark.sql.DataFrame): Double = {
      val plain = sessSessions(ev, bucketed = false)
      val buck = sessSessions(ev, bucketed = true)
      require(plain == buck,
        s"sessionizeBucketed diverged from sessionize: $buck vs $plain")
      wall(sessSessions(ev, bucketed = false))
    }
    def sessBucketedWall(ev: org.apache.spark.sql.DataFrame): Double =
      wall(sessSessions(ev, bucketed = true))
    def gapWall(ev: org.apache.spark.sql.DataFrame): Double = wall {
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
    val aU = asofWall(uniform)
    val abU = asofBucketedWall(uniform)
    val sU = sessWall(uniform)
    val sbU = sessBucketedWall(uniform)
    val gU = gapWall(uniform)
    def r(h: Double, u: Double) = if (u > 0) h / u else -1.0
    val shareEntries = Seq(1, 4).map { tenths =>
      val hot = hotAt(tenths)
      val hotRows = hot.filter(col("user_id") === 1L).count()
      val aH = asofWall(hot)
      val abH = asofBucketedWall(hot)
      val sH = sessWall(hot)
      val sbH = sessBucketedWall(hot)
      val gH = gapWall(hot)
      s""""${tenths * 10}pct":{"hot_key_rows":$hotRows,""" +
        s""""hot_share":${hotRows.toDouble / rows},""" +
        s""""asof":{"hot_sec":$aH,"ratio":${r(aH, aU)}},""" +
        s""""asof_bucketed":{"hot_sec":$abH,"ratio":${r(abH, aU)},""" +
        s""""speedup_vs_plain":${r(aH, abH)}},""" +
        s""""sessionize":{"hot_sec":$sH,"ratio":${r(sH, sU)}},""" +
        s""""sessionize_bucketed":{"hot_sec":$sbH,"ratio":${r(sbH, sU)},""" +
        s""""speedup_vs_plain":${r(sH, sbH)}},""" +
        s""""gap_fill":{"hot_sec":$gH,"ratio":${r(gH, gU)}}}"""
    }
    val skEntry = s"""{"scale":$scale,"rows":$rows,"passes":$passes,""" +
      s""""uniform":{"asof_sec":$aU,"asof_bucketed_sec":$abU,""" +
      s""""sessionize_sec":$sU,"sessionize_bucketed_sec":$sbU,""" +
      s""""gap_fill_sec":$gU},""" +
      s""""shares":{${shareEntries.mkString(",")}},""" +
      s""""sf":"$sfDir"}"""
    println(s"""{"probe":"asof_skew",${skEntry.tail}""")
    writeArtifact("asof_skew", skEntry)
    }

    if (probes("skew_autostrategy")) {
    // The stats-gated plain-vs-bucketed dispatch (Skew.pickWindowStrategy)
    // at the asof_skew probe points: the sampled dominant-key share must
    // pick the MEASURED-best plan at every distribution, and the sample
    // pass must cost a vanishing fraction of the window it gates. Walls
    // are re-measured live (sessionize, the family's purest shape) so
    // "best" is this run's ground truth, not a stale artifact's.
    val ev0a = graft.sources.Tables.withEventTimestamp(
      spark.read.parquet(s"$sfDir/events.parquet"))
      .select(col("event_id"), col("user_id"), col("ts"))
    val evScaledA = (0 until scale).map { i =>
      ev0a.select((col("event_id") + lit(i.toLong * 100000000L)).as("event_id"),
        (col("user_id") + lit(i.toLong * 1000000L)).as("user_id"), col("ts"))
    }.reduce(_ unionByName _)
    def persistedA(df: org.apache.spark.sql.DataFrame, name: String) = {
      val p = java.nio.file.Files.createTempDirectory(s"graft_skas_$name")
        .resolve("events.parquet").toString
      df.repartition(cpus.toInt).write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    def wallA(f: => Long): Double =
      (1 to passes).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.min
    val rowsA = evScaledA.count()
    val pointEntries = Seq(0, 1, 4).map { tenths =>
      val ev = persistedA(
        if (tenths == 0) evScaledA
        else evScaledA.withColumn("user_id",
          when(pmod(col("event_id"), lit(10)) < tenths, lit(1L))
            .otherwise(col("user_id"))), s"t$tenths")
      val input = ev.select(col("user_id"), col("ts"))
      val t0 = System.nanoTime()
      val share = graft.operators.Skew.dominantKeyShare(input, Seq("user_id"))
      val decisionSec = (System.nanoTime() - t0) / 1e9
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
      val plainSec = wallA(sessions(bucketed = false))
      val buckSec = wallA(sessions(bucketed = true))
      val best = if (buckSec < plainSec) "bucketed" else "plain"
      s""""${tenths * 10}pct":{"sampled_share":$share,""" +
        s""""decision_sec":$decisionSec,"chosen":"$chosen",""" +
        s""""plain_sec":$plainSec,"bucketed_sec":$buckSec,""" +
        s""""best":"$best","chosen_eq_best":${chosen == best},""" +
        s""""decision_cost_vs_gated_window":${decisionSec / plainSec}}"""
    }
    val skaEntry = s"""{"scale":$scale,"rows":$rowsA,"passes":$passes,""" +
      s""""threshold":${graft.operators.Skew.HotKeyShareThreshold},""" +
      s""""points":{${pointEntries.mkString(",")}},""" +
      s""""sf":"$sfDir"}"""
    println(s"""{"probe":"skew_autostrategy",${skaEntry.tail}""")
    writeArtifact("skew_autostrategy", skaEntry)
    }

    if (probes("snapshot_cluster")) {
    // The clusterBy data-layout claim: a store whose files are sorted by a
    // column turns a pushed range predicate on it into parquet row-group/
    // page skipping — the scan decodes the slice, not the bucket. The
    // cluster column must be UNCORRELATED with ingest order to need help:
    // this probe first clustered on event time and measured NO win,
    // because time-correlated ingest leaves every row group spanning ~5%
    // of the ts domain anyway (checked in the footers) — event tables
    // prune on arrival-time for free, which is worth knowing and is why
    // the probe clusters on `value` (the "range filter on a non-time
    // column" regime clusterBy exists for). Same rows, two stores; the
    // probe records the write-side cost (the local sort), the selective-
    // slice scan walls at 1% and 10% selectivity, and the full-scan walls
    // (which must be ~equal — layout must not tax full reads). Local page
    // cache hides raw IO, so the measured win is decode-skip only; on an
    // object store the skipped bytes are also unfetched.
    import graft.sinks.{SnapshotStore, UpsertConfig}
    val ev = graft.sources.Tables.withEventTimestamp(
      spark.read.parquet(s"$sfDir/events.parquet"))
      .select(col("event_id"), col("ts"), col("value"))
    val evScaled = (0 until scale).map { i =>
      ev.select((col("event_id") + lit(i.toLong * 100000000L)).as("event_id"),
        // spread replicas over disjoint time ranges so the ts domain grows
        // with the corpus the way a longer-lived table's would
        (unix_micros(col("ts")) + lit(i.toLong * 4000000000000L)).as("ts_us"),
        col("value"),
        // a wide high-entropy payload (~256 B/row): real tables carry wide
        // rows, and the decode of THESE bytes is what row-group skipping
        // saves — with only 8-byte key columns the scan is task-overhead-
        // bound and no layout can show up (measured: 0.86–1.03x)
        repeat(md5(concat(col("event_id").cast("string"), lit(s"r$i"))), 8)
          .as("payload"))
    }.reduce(_ unionByName _)
    val snapCfg = UpsertConfig(discriminant = Seq("event_id"),
      clock = Some(to_timestamp(lit("2026-01-01 00:00:00"))))
    // Row-group pruning is the mechanism under test, and it needs row-group
    // MULTIPLICITY: at production sizing a bucket file holds many 128 MB
    // row groups, but this probe's whole bucket fits in ONE — which makes
    // min-max skipping structurally impossible regardless of layout (the
    // first run of this probe measured exactly that: 0.83–0.95x, no win).
    // Shrink the block size so each file holds tens of row groups, the
    // multiplicity a 100 TB table's files actually have; both stores get
    // the same setting, and it is restored after the builds.
    val hc = spark.sparkContext.hadoopConfiguration
    val prevBlock = hc.get("parquet.block.size")
    hc.setInt("parquet.block.size", 1 << 20)
    def build(clusterBy: Seq[String]): (String, Double) = {
      val root = java.nio.file.Files.createTempDirectory(
        s"graft_snapclus${clusterBy.size}").resolve("store").toString
      val t0 = System.nanoTime()
      SnapshotStore.upsert(spark, root, evScaled, snapCfg, nBuckets = 8,
        clusterBy = clusterBy)
      (root, (System.nanoTime() - t0) / 1e9)
    }
    // restore in finally: a failure mid-build must not leak the shrunken
    // row-group size into every later probe in this JVM
    val (rootC, writeC, rootU, writeU) = try {
      val c = build(Seq("value"))
      val u = build(Nil)
      // compact both stores to the maintained layout (one file per
      // bucket; for the clustered store that also merges the overlapping
      // sorted runs a multi-task upsert leaves into one fully-sorted
      // file — the repair compact's clusterBy doc promises)
      SnapshotStore.compact(spark, c._1, maxFilesPerBucket = 1)
      SnapshotStore.compact(spark, u._1, maxFilesPerBucket = 1)
      (c._1, c._2, u._1, u._2)
    } finally {
      if (prevBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", prevBlock)
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
      (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        // the agg must READ the wide column — a count alone would let
        // column pruning drop the very bytes skipping is supposed to save
        filtered.agg(count(col("event_id")), sum(col("value")),
          sum(length(col("payload")))).head()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    // equality gate: the layouts must agree on the slice before timing
    def sliceCount(root: String): Long =
      SnapshotStore.read(spark, root).get
        .filter(col("value") >= vLo && col("value") < cut(0.01))
        .count()
    require(sliceCount(rootC) == sliceCount(rootU),
      "clustered and unclustered stores disagree on the probe slice")
    val entries = Seq(0.01, 0.10, 1.0).map { frac =>
      val cl = scan(rootC, frac)
      val un = scan(rootU, frac)
      s""""${(frac * 100).toInt}pct":{"clustered_sec":$cl,""" +
        s""""unclustered_sec":$un,""" +
        s""""cluster_speedup":${if (cl > 0) un / cl else -1.0}}"""
    }
    val rows = evScaled.count()
    val scEntry = s"""{"scale":$scale,"rows":$rows,"passes":$passes,""" +
      s""""write_clustered_sec":$writeC,"write_unclustered_sec":$writeU,""" +
      s""""scans":{${entries.mkString(",")}},"sf":"$sfDir"}"""
    println(s"""{"probe":"snapshot_cluster",${scEntry.tail}""")
    writeArtifact("snapshot_cluster", scEntry)
    }

    if (probes("asof_enrich_stream")) {
    // The streaming as-of enrichment under a realistic replay: the scaled
    // event corpus split into purchases (lefts) and clicks (rights),
    // written as TIME-ORDERED file slices and streamed through
    // StreamOps.asofEnrich with maxFilesPerTrigger forcing many
    // micro-batches — so state actually churns across batches (buffered
    // lefts flush as the watermark advances; standing rights carry
    // forward) instead of one bulk pass. Match-count parity with the
    // batch Joins.asOfJoin on the same corpus gates the wall. The
    // recorded streaming wall INCLUDES micro-batch scheduling overhead —
    // that is the honest cost of the continuous form; the batch wall is
    // the one-shot lower bound.
    import graft.streaming.StreamOps
    val ev0 = graft.sources.Tables.withEventTimestamp(
      spark.read.parquet(s"$sfDir/events.parquet"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"))
    val evS = (0 until scale).map { i =>
      ev0.select((col("event_id") + lit(i.toLong * 100000000L)).as("event_id"),
        (col("user_id") + lit(i.toLong * 1000000L)).as("user_id"),
        col("event_type"), col("ts"))
    }.reduce(_ unionByName _)
    val pAll = evS.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val cAll = evS.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts"))
    val base = java.nio.file.Files.createTempDirectory("graft_aes")
    val (lDir, rDir) = (s"$base/l", s"$base/r")
    // time-ordered slices, written sequentially so file mtimes follow
    // event time and cross-batch disorder stays inside the delay
    val slices = 24
    def writeSlices(df: org.apache.spark.sql.DataFrame, path: String): Unit = {
      val sliced = df.withColumn("__s",
        ntile(slices).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("ts")))).persist()
      try (1 to slices).foreach { s =>
        sliced.filter(col("__s") === s).drop("__s")
          .coalesce(1).write.mode("append").parquet(path)
      } finally sliced.unpersist()
    }
    writeSlices(pAll, lDir)
    writeSlices(cAll, rDir)
    val lSchema = spark.read.parquet(lDir).schema
    val rSchema = spark.read.parquet(rDir).schema
    val matched = new java.util.concurrent.atomic.AtomicLong(0L)
    val emitted = new java.util.concurrent.atomic.AtomicLong(0L)
    // peak state rows across the replay: the boundedness claim made
    // measurable — state must track keys-inside-the-horizon, not corpus
    val maxStateRows = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
        val rows = e.progress.stateOperators.headOption
          .map(_.numRowsTotal).getOrElse(0L)
        maxStateRows.getAndUpdate(m => math.max(m, rows))
        ()
      }
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val tS0 = System.nanoTime()
    val q = StreamOps.asofEnrich(
        spark.readStream.schema(lSchema)
          .option("maxFilesPerTrigger", "2").parquet(lDir),
        spark.readStream.schema(rSchema)
          .option("maxFilesPerTrigger", "2").parquet(rDir),
        Seq("user_id"), "ts", "ts", delay = "1 hour", rightPrefix = "r_")
      .writeStream.foreachBatch {
        (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val row = df.filter(col("event_id") < lit(900000000000L))
            .agg(count(lit(1)), count(col("r_click_id"))).head()
          emitted.addAndGet(row.getLong(0))
          matched.addAndGet(row.getLong(1))
          ()
      }.start()
    val nLefts = pAll.count()
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
      spark.streams.removeListener(listener)
    }
    val streamWall = (System.nanoTime() - tS0) / 1e9
    val batchWall = (1 to passes).map { _ =>
      val t0 = System.nanoTime()
      Joins.asOfJoin(pAll, cAll, Seq("user_id"), "ts", "ts", "r_")
        .agg(count(col("r_click_id"))).head()
      (System.nanoTime() - t0) / 1e9
    }.min
    val batchMatches = Joins.asOfJoin(pAll, cAll, Seq("user_id"), "ts", "ts",
      "r_").agg(count(col("r_click_id"))).head().getLong(0)
    require(emitted.get() == nLefts,
      s"streaming emitted ${emitted.get()} of $nLefts lefts")
    require(matched.get() == batchMatches,
      s"streaming matched ${matched.get()}, batch $batchMatches")
    val aesEntry = s"""{"scale":$scale,"lefts":$nLefts,""" +
      s""""matches":$batchMatches,"slices":$slices,""" +
      s""""stream_wall_sec":$streamWall,""" +
      s""""stream_rows_per_sec":${(nLefts / streamWall).toLong},""" +
      s""""max_state_rows":${maxStateRows.get()},""" +
      s""""batch_wall_sec":$batchWall,"sf":"$sfDir"}"""
    println(s"""{"probe":"asof_enrich_stream",${aesEntry.tail}""")
    writeArtifact("asof_enrich_stream", aesEntry)
    }

    if (probes("sessionize_stream")) {
    // Streaming gap-sessionization under the asof_enrich_stream replay
    // harness: the scaled event corpus as time-ordered file slices,
    // many micro-batches (state churns: pending rows flush as the
    // watermark advances, cursors persist), numbering parity with the
    // batch Sessions.sessionize required before the wall is trusted —
    // checked as (row count, Σ session_no, Σ session_no², Σ
    // user·session_no), which pins the per-row numbers without
    // collecting the corpus. max_state_rows makes the boundedness claim
    // measurable: cursors are one tiny row per SEEN key plus the
    // pending horizon, never the corpus.
    import graft.streaming.StreamOps
    val ev0ss = graft.sources.Tables.withEventTimestamp(
      spark.read.parquet(s"$sfDir/events.parquet"))
      .select(col("event_id"), col("user_id"), col("ts"))
    val evSS = (0 until scale).map { i =>
      ev0ss.select((col("event_id") + lit(i.toLong * 100000000L)).as("event_id"),
        (col("user_id") + lit(i.toLong * 1000000L)).as("user_id"), col("ts"))
    }.reduce(_ unionByName _)
    val baseSS = java.nio.file.Files.createTempDirectory("graft_sss")
    val dirSS = s"$baseSS/ev"
    val slicesSS = 24
    val slicedSS = evSS.withColumn("__s",
      ntile(slicesSS).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("ts")))).persist()
    try (1 to slicesSS).foreach { s =>
      slicedSS.filter(col("__s") === s).drop("__s")
        .coalesce(1).write.mode("append").parquet(dirSS)
    } finally slicedSS.unpersist()
    val ssSchema = spark.read.parquet(dirSS).schema
    val nEv = evSS.count()
    val acc = new java.util.concurrent.atomic.AtomicReference(
      (0L, 0L, 0L, 0L))
    val maxStateSS = new java.util.concurrent.atomic.AtomicLong(0L)
    val listenerSS = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = {
        val rows = e.progress.stateOperators.headOption
          .map(_.numRowsTotal).getOrElse(0L)
        maxStateSS.getAndUpdate(m => math.max(m, rows))
        ()
      }
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listenerSS)
    val tSS0 = System.nanoTime()
    val qSS = StreamOps.sessionizeStream(
        spark.readStream.schema(ssSchema)
          .option("maxFilesPerTrigger", "2").parquet(dirSS),
        Seq("user_id"), "ts", gapSec = 1800L, delay = "1 hour")
      .writeStream.foreachBatch {
        (df: org.apache.spark.sql.DataFrame, _: Long) =>
          val r = df.filter(col("event_id") < lit(900000000000L))
            .agg(count(lit(1)), sum(col("session_no")),
              sum(col("session_no") * col("session_no")),
              sum(col("user_id") * col("session_no"))).head()
          def g(i: Int) = if (r.isNullAt(i)) 0L else r.getLong(i)
          acc.getAndUpdate { case (a, b, c, d) =>
            (a + g(0), b + g(1), c + g(2), d + g(3)) }
          ()
      }.start()
    try {
      qSS.processAllAvailable()
      // far-future sentinel flushes every pending row, twice so the
      // timeout batch runs after the watermark moves
      (1 to 2).foreach { k =>
        evSS.limit(1).select(lit(900000000000L + k).as("event_id"),
            lit(999L).as("user_id"),
            (col("ts") + expr(s"INTERVAL '${399 + k}' DAY")).as("ts"))
          .coalesce(1).write.mode("append").parquet(dirSS)
        qSS.processAllAvailable()
      }
    } finally {
      qSS.stop()
      spark.streams.removeListener(listenerSS)
    }
    val streamWallSS = (System.nanoTime() - tSS0) / 1e9
    val batchWallSS = (1 to passes).map { _ =>
      val t0 = System.nanoTime()
      graft.operators.Sessions.sessionize(evSS, Seq("user_id"), "ts", 1800L)
        .agg(count(lit(1))).head()
      (System.nanoTime() - t0) / 1e9
    }.min
    val bAgg = graft.operators.Sessions.sessionize(evSS, Seq("user_id"),
        "ts", 1800L)
      .agg(count(lit(1)), sum(col("session_no")),
        sum(col("session_no") * col("session_no")),
        sum(col("user_id") * col("session_no"))).head()
    val want = (bAgg.getLong(0), bAgg.getLong(1), bAgg.getLong(2),
      bAgg.getLong(3))
    require(acc.get() == want,
      s"streaming sessionization diverged from batch: ${acc.get()} vs $want")
    val sssEntry = s"""{"scale":$scale,"rows":$nEv,""" +
      s""""slices":$slicesSS,"stream_wall_sec":$streamWallSS,""" +
      s""""stream_rows_per_sec":${(nEv / streamWallSS).toLong},""" +
      s""""max_state_rows":${maxStateSS.get()},""" +
      s""""batch_wall_sec":$batchWallSS,""" +
      s""""parity":"count+sum+sumsq+keyweighted all equal",""" +
      s""""sf":"$sfDir"}"""
    println(s"""{"probe":"sessionize_stream",${sssEntry.tail}""")
    writeArtifact("sessionize_stream", sssEntry)
    }

    if (probes("zorder_cluster")) {
    // The multi-dimension layout claim: a single-column clusterBy serves
    // ONLY its own column — a range predicate on any other column sees
    // full-range row groups. Z-ordering (Layout.zOrderUpsert: equi-depth
    // bucket ranks morton-interleaved into one stored sort key) gives
    // every clustered dimension range-locality. Three stores, same rows:
    // unclustered / clusterBy(value) / z-order(value, user_id); probes a
    // 1%-quantile slice per dimension and a 10%x10% 2-D box, counts gated
    // equal across stores before timing. Expected shape: the single-col
    // store wins hardest on value and does NOTHING on user_id; z-order
    // wins on BOTH (less deep per-dimension — the classic trade).
    import graft.sinks.{SnapshotStore, UpsertConfig}
    import graft.operators.Layout
    val ev = graft.sources.Tables.withEventTimestamp(
      spark.read.parquet(s"$sfDir/events.parquet"))
      .select(col("event_id"), col("user_id"), col("value"))
    val corpus = (0 until scale).map { i =>
      ev.select((col("event_id") + lit(i.toLong * 100000000L)).as("event_id"),
        col("user_id").cast("double").as("user_id"),
        col("value"),
        repeat(md5(concat(col("event_id").cast("string"), lit(s"z$i"))), 8)
          .as("payload"))
    }.reduce(_ unionByName _)
    val zCfg = UpsertConfig(discriminant = Seq("event_id"),
      clock = Some(to_timestamp(lit("2026-01-01 00:00:00"))))
    val hc = spark.sparkContext.hadoopConfiguration
    val prevBlock = hc.get("parquet.block.size")
    hc.setInt("parquet.block.size", 1 << 20)
    def mkRoot(tag: String) = java.nio.file.Files
      .createTempDirectory(s"graft_zc_$tag").resolve("store").toString
    val (rootU, rootC, rootZ) = (mkRoot("u"), mkRoot("c"), mkRoot("z"))
    // restore in finally: a failure mid-build must not leak the shrunken
    // row-group size into every later probe in this JVM
    val zWriteSec = try {
      SnapshotStore.upsert(spark, rootU, corpus, zCfg, nBuckets = 8)
      SnapshotStore.upsert(spark, rootC, corpus, zCfg, nBuckets = 8,
        clusterBy = Seq("value"))
      val tZ0 = System.nanoTime()
      Layout.zOrderUpsert(spark, rootZ, corpus, Seq("value", "user_id"),
        zCfg, nBuckets = 8, buckets = 256)
      val w = (System.nanoTime() - tZ0) / 1e9
      Seq(rootU, rootC, rootZ).foreach(r =>
        SnapshotStore.compact(spark, r, maxFilesPerBucket = 1))
      w
    } finally {
      if (prevBlock == null) hc.unset("parquet.block.size")
      else hc.set("parquet.block.size", prevBlock)
    }
    // quantile cut points shared by all stores
    val qv = corpus.stat.approxQuantile("value",
      Array(0.01, 0.45, 0.55), 0.0005)
    val qu = corpus.stat.approxQuantile("user_id",
      Array(0.01, 0.45, 0.55), 0.0005)
    val vLo = corpus.agg(min(col("value"))).head().getDouble(0)
    val uLo = corpus.agg(min(col("user_id"))).head().getDouble(0)
    val preds: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "value_1pct" -> (col("value") >= vLo && col("value") < qv(0)),
      "user_1pct" -> (col("user_id") >= uLo && col("user_id") < qu(0)),
      "box_10x10" -> (col("value") >= qv(1) && col("value") < qv(2) &&
        col("user_id") >= qu(1) && col("user_id") < qu(2)))
    def scanZ(root: String, pred: org.apache.spark.sql.Column): Double = {
      val store = SnapshotStore.read(spark, root).get.filter(pred)
      (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        store.agg(count(col("event_id")), sum(length(col("payload")))).head()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    val predEntries = preds.map { case (name, pred) =>
      val counts = Seq(rootU, rootC, rootZ).map(r =>
        SnapshotStore.read(spark, r).get.filter(pred).count())
      require(counts.distinct.size == 1,
        s"stores disagree on $name: $counts")
      val (u, c, z) =
        (scanZ(rootU, pred), scanZ(rootC, pred), scanZ(rootZ, pred))
      s""""$name":{"rows":${counts.head},"unclustered_sec":$u,""" +
        s""""value_clustered_sec":$c,"zorder_sec":$z,""" +
        s""""value_clustered_speedup":${if (c > 0) u / c else -1.0},""" +
        s""""zorder_speedup":${if (z > 0) u / z else -1.0}}"""
    }
    val zEntry = s"""{"scale":$scale,"rows":${corpus.count()},""" +
      s""""passes":$passes,"zorder_write_sec":$zWriteSec,""" +
      s""""scans":{${predEntries.mkString(",")}},"sf":"$sfDir"}"""
    println(s"""{"probe":"zorder_cluster",${zEntry.tail}""")
    writeArtifact("zorder_cluster", zEntry)
    }

    if (probes("zorder_drift")) {
    // The frozen-model drift story made measurable: a z-ordered store
    // whose later appends DRIFT out of the fitted range loses pruning on
    // the drifted dimension (all new rows rank into the top bucket, so
    // the interleave degenerates to the other dimensions' ordering
    // within the new mass), while a REFIT store (fresh fit on the full
    // data) keeps it. The probe builds frozen / refit / unclustered
    // stores over identical rows, scans a 1% slice INSIDE the drifted
    // mass (where decay bites) and a 1% slice on the undrifted
    // dimension (which the frozen store must still serve), and records
    // Layout.zOrderDriftStats' balance signal next to the measured
    // walls — the refit threshold becomes a read-off: the dimension
    // whose balance exploded is the one whose slices stopped pruning.
    import graft.sinks.{SnapshotStore, UpsertConfig}
    import graft.operators.Layout
    val evD = graft.sources.Tables.withEventTimestamp(
      spark.read.parquet(s"$sfDir/events.parquet"))
      .select(col("event_id"), col("user_id"), col("value"))
    val corpusA = (0 until scale).map { i =>
      evD.select((col("event_id") + lit(i.toLong * 100000000L)).as("event_id"),
        col("user_id").cast("double").as("user_id"),
        col("value"),
        repeat(md5(concat(col("event_id").cast("string"), lit(s"d$i"))), 8)
          .as("payload"))
    }.reduce(_ unionByName _)
    // drifted twin: same user distribution, values shifted far beyond
    // the fitted range (a regime change, the refit rationale)
    val driftOff = 1.0e6
    val corpusB = corpusA.select(
      (col("event_id") + lit(scale.toLong * 100000000L)).as("event_id"),
      col("user_id"), (col("value") + lit(driftOff)).as("value"),
      col("payload"))
    val dCfg = UpsertConfig(discriminant = Seq("event_id"),
      clock = Some(to_timestamp(lit("2026-01-01 00:00:00"))))
    val hcD = spark.sparkContext.hadoopConfiguration
    val prevBlockD = hcD.get("parquet.block.size")
    hcD.setInt("parquet.block.size", 1 << 20)
    def mkRootD(tag: String) = java.nio.file.Files
      .createTempDirectory(s"graft_zd_$tag").resolve("store").toString
    val (rootF, rootR, rootUD) = (mkRootD("f"), mkRootD("r"), mkRootD("u"))
    try {
      Layout.zOrderUpsert(spark, rootF, corpusA, Seq("value", "user_id"),
        dCfg, nBuckets = 8, buckets = 256)
      Layout.zOrderUpsert(spark, rootF, corpusB, Seq("value", "user_id"),
        dCfg) // frozen model ranks the drifted batch
      Layout.zOrderUpsert(spark, rootR, corpusA.unionByName(corpusB),
        Seq("value", "user_id"), dCfg, nBuckets = 8, buckets = 256)
      SnapshotStore.upsert(spark, rootUD, corpusA.unionByName(corpusB),
        dCfg, nBuckets = 8)
      Seq(rootF, rootR, rootUD).foreach(r =>
        SnapshotStore.compact(spark, r, maxFilesPerBucket = 1))
    } finally {
      if (prevBlockD == null) hcD.unset("parquet.block.size")
      else hcD.set("parquet.block.size", prevBlockD)
    }
    val qvB = corpusB.stat.approxQuantile("value", Array(0.01), 0.0005)
    val vBLo = corpusB.agg(min(col("value"))).head().getDouble(0)
    val quD = corpusA.stat.approxQuantile("user_id", Array(0.01), 0.0005)
    val uDLo = corpusA.agg(min(col("user_id"))).head().getDouble(0)
    val predsD: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "drifted_value_1pct" -> (col("value") >= vBLo && col("value") < qvB(0)),
      "user_1pct" -> (col("user_id") >= uDLo && col("user_id") < quD(0)))
    def scanD(root: String, pred: org.apache.spark.sql.Column): Double = {
      val store = SnapshotStore.read(spark, root).get.filter(pred)
      (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        store.agg(count(col("event_id")), sum(length(col("payload")))).head()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    val scanEntriesD = predsD.map { case (name, pred) =>
      val counts = Seq(rootF, rootR, rootUD).map(r =>
        SnapshotStore.read(spark, r).get.filter(pred).count())
      require(counts.distinct.size == 1, s"stores disagree on $name: $counts")
      val (f, r2, u) =
        (scanD(rootF, pred), scanD(rootR, pred), scanD(rootUD, pred))
      s""""$name":{"rows":${counts.head},"frozen_sec":$f,""" +
        s""""refit_sec":$r2,"unclustered_sec":$u,""" +
        s""""frozen_speedup_vs_unclustered":${if (f > 0) u / f else -1.0},""" +
        s""""refit_speedup_vs_frozen":${if (r2 > 0) f / r2 else -1.0}}"""
    }
    def balances(root: String): Map[String, Double] =
      Layout.zOrderDriftStats(spark, root).collect()
        .map(r => r.getString(0) -> r.getDouble(5)).toMap
    val bF = balances(rootF)
    val bR = balances(rootR)
    val zdEntry = s"""{"scale":$scale,""" +
      s""""rows":${corpusA.count() * 2},"passes":$passes,""" +
      s""""frozen_balance":{"value":${bF("value")},"user_id":${bF("user_id")}},""" +
      s""""refit_balance":{"value":${bR("value")},"user_id":${bR("user_id")}},""" +
      s""""scans":{${scanEntriesD.mkString(",")}},""" +
      s""""signal_flags_drift":${bF("value") > 4.0 && bR("value") < 4.0},""" +
      s""""sf":"$sfDir"}"""
    println(s"""{"probe":"zorder_drift",${zdEntry.tail}""")
    writeArtifact("zorder_drift", zdEntry)
    }

    if (probes("zorder_maintain")) {
    // zorder_drift showed the OPEN loop: a drifted dimension's balance
    // explodes and its slices decay toward (even below) unclustered,
    // while a hand-refit recovers the speedup. This probe closes it:
    // Layout.zOrderMaintain reads the same balance signal, DECIDES, and
    // rewrites in place — the drifted-mass 1% slice is measured before
    // and after the automatic refit, with an unclustered twin as the
    // reference line, and the maintain wall (fit + full rewrite) is
    // recorded as the cost of the recovery.
    import graft.sinks.{SnapshotStore, UpsertConfig}
    import graft.operators.Layout
    val evM = graft.sources.Tables.withEventTimestamp(
      spark.read.parquet(s"$sfDir/events.parquet"))
      .select(col("event_id"), col("user_id"), col("value"))
    val corpusMA = (0 until scale).map { i =>
      evM.select((col("event_id") + lit(i.toLong * 100000000L)).as("event_id"),
        col("user_id").cast("double").as("user_id"),
        col("value"),
        repeat(md5(concat(col("event_id").cast("string"), lit(s"m$i"))), 8)
          .as("payload"))
    }.reduce(_ unionByName _)
    val corpusMB = corpusMA.select(
      (col("event_id") + lit(scale.toLong * 100000000L)).as("event_id"),
      col("user_id"), (col("value") + lit(1.0e6)).as("value"),
      col("payload"))
    val mCfg = UpsertConfig(discriminant = Seq("event_id"),
      clock = Some(to_timestamp(lit("2026-01-01 00:00:00"))))
    val hcM = spark.sparkContext.hadoopConfiguration
    val prevBlockM = hcM.get("parquet.block.size")
    // small row groups, as in zorder_drift: pruning granularity at probe
    // sizes must resemble the real-row-group-count regime
    hcM.setInt("parquet.block.size", 1 << 20)
    val rootM = java.nio.file.Files
      .createTempDirectory("graft_zm_m").resolve("store").toString
    val rootMU = java.nio.file.Files
      .createTempDirectory("graft_zm_u").resolve("store").toString
    try {
      Layout.zOrderUpsert(spark, rootM, corpusMA, Seq("value", "user_id"),
        mCfg, nBuckets = 8, buckets = 256)
      Layout.zOrderUpsert(spark, rootM, corpusMB, Seq("value", "user_id"),
        mCfg) // frozen model ranks the drifted batch
      SnapshotStore.upsert(spark, rootMU, corpusMA.unionByName(corpusMB),
        mCfg, nBuckets = 8)
      Seq(rootM, rootMU).foreach(r =>
        SnapshotStore.compact(spark, r, maxFilesPerBucket = 1))
      val qvM = corpusMB.stat.approxQuantile("value", Array(0.01), 0.0005)
      val vMLo = corpusMB.agg(min(col("value"))).head().getDouble(0)
      val predM = col("value") >= vMLo && col("value") < qvM(0)
      def scanM(root: String): Double = {
        val store = SnapshotStore.read(spark, root).get.filter(predM)
        (1 to passes).map { _ =>
          val t0 = System.nanoTime()
          store.agg(count(col("event_id")), sum(length(col("payload")))).head()
          (System.nanoTime() - t0) / 1e9
        }.min
      }
      def balM(): Map[String, Double] =
        Layout.zOrderDriftStats(spark, rootM).collect()
          .map(r => r.getString(0) -> r.getDouble(5)).toMap
      val rowsPre = SnapshotStore.read(spark, rootM).get.filter(predM).count()
      val rowsU = SnapshotStore.read(spark, rootMU).get.filter(predM).count()
      require(rowsPre == rowsU,
        s"stores disagree on the drifted slice: $rowsPre vs $rowsU")
      val balPre = balM()
      val preSec = scanM(rootM)
      val uSec = scanM(rootMU)
      val t0m = System.nanoTime()
      val decision1 = Layout.zOrderMaintain(spark, rootM, buckets = 256)
      val maintSec = (System.nanoTime() - t0m) / 1e9
      val decision2 = Layout.zOrderMaintain(spark, rootM, buckets = 256)
      val balPost = balM()
      val postSec = scanM(rootM)
      val rowsPost = SnapshotStore.read(spark, rootM).get.filter(predM).count()
      require(rowsPost == rowsPre,
        s"refit changed the slice row count: $rowsPost vs $rowsPre")
      val zmEntry = s"""{"scale":$scale,""" +
        s""""rows":${corpusMA.count() * 2},"passes":$passes,""" +
        s""""slice_rows":$rowsPre,""" +
        s""""decision_drifted":"$decision1","decision_after":"$decision2",""" +
        s""""maintain_sec":$maintSec,""" +
        s""""balance_pre":{"value":${balPre("value")},"user_id":${balPre("user_id")}},""" +
        s""""balance_post":{"value":${balPost("value")},"user_id":${balPost("user_id")}},""" +
        s""""drifted_slice":{"pre_sec":$preSec,"post_sec":$postSec,""" +
        s""""unclustered_sec":$uSec,""" +
        s""""recovered_speedup":${if (postSec > 0) preSec / postSec else -1.0},""" +
        s""""post_speedup_vs_unclustered":${if (postSec > 0) uSec / postSec else -1.0}},""" +
        s""""signal":${decision1 == "refit" && decision2 == "ok" &&
          balPre("value") > 4.0 && balPost("value") < 4.0},""" +
        s""""sf":"$sfDir"}"""
      println(s"""{"probe":"zorder_maintain",${zmEntry.tail}""")
      writeArtifact("zorder_maintain", zmEntry)
    } finally {
      if (prevBlockM == null) hcM.unset("parquet.block.size")
      else hcM.set("parquet.block.size", prevBlockM)
    }
    }

    if (probes("zorder_gauge")) {
    // storeMaintain's nightly drift check must not cost a full-store scan
    // when the answer is "ok" — the common night. zOrderDriftStats'
    // bucket-SAMPLED form reads a deterministic subset of the store's
    // hash buckets (membership = hash(discriminant), independent of the
    // z columns, so the subset is an unbiased row sample and balance — a
    // ratio — survives sampling). This probe measures the sampled
    // gauge's COST vs the full scan and its FIDELITY: same
    // worst-dimension balance signal and same threshold decision, on a
    // healthy store and again after a drifted append.
    import graft.sinks.{SnapshotStore, UpsertConfig}
    import graft.operators.Layout
    val evG = graft.sources.Tables.withEventTimestamp(
      spark.read.parquet(s"$sfDir/events.parquet"))
      .select(col("event_id"), col("user_id"), col("value"))
    val corpusGA = (0 until scale).map { i =>
      evG.select((col("event_id") + lit(i.toLong * 100000000L)).as("event_id"),
        col("user_id").cast("double").as("user_id"),
        col("value"),
        repeat(md5(concat(col("event_id").cast("string"), lit(s"g$i"))), 8)
          .as("payload"))
    }.reduce(_ unionByName _)
    val corpusGB = corpusGA.select(
      (col("event_id") + lit(scale.toLong * 100000000L)).as("event_id"),
      col("user_id"), (col("value") + lit(1.0e6)).as("value"),
      col("payload"))
    val gCfg = UpsertConfig(discriminant = Seq("event_id"),
      clock = Some(to_timestamp(lit("2026-01-01 00:00:00"))))
    val storeBucketsG = 256
    val sampleG = 16
    val rootG = java.nio.file.Files
      .createTempDirectory("graft_zg").resolve("store").toString
    Layout.zOrderUpsert(spark, rootG, corpusGA, Seq("value", "user_id"),
      gCfg, nBuckets = storeBucketsG, buckets = 256)
    // min-of-passes like every timing probe; worst balance from the same
    // aggregation the maintain trigger reads
    def gaugeG(sample: Int): (Double, Double) =
      (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        val w = Layout.zOrderDriftStats(spark, rootG, sample)
          .agg(max(col("balance"))).head().getDouble(0)
        ((System.nanoTime() - t0) / 1e9, w)
      }.minBy(_._1)
    val (okFullSec, okFullBal) = gaugeG(0)
    val (okSampSec, okSampBal) = gaugeG(sampleG)
    Layout.zOrderUpsert(spark, rootG, corpusGB, Seq("value", "user_id"),
      gCfg) // frozen model ranks the drifted batch
    val (drFullSec, drFullBal) = gaugeG(0)
    val (drSampSec, drSampBal) = gaugeG(sampleG)
    // the decisions the maintain trigger would take (maxBalance = 4.0,
    // confirmBand = 0.25): agreement on BOTH nights is the fidelity claim
    val okAgree = okFullBal <= 4.0 && okSampBal <= 4.0 * 0.75
    val drAgree = drFullBal > 4.0 && drSampBal > 4.0 * 1.25
    val gEntry = s"""{"scale":$scale,"rows":${corpusGA.count() * 2},""" +
      s""""passes":$passes,""" +
      s""""store_buckets":$storeBucketsG,"sample_buckets":$sampleG,""" +
      s""""sampled_fraction":${sampleG.toDouble / storeBucketsG},""" +
      s""""ok_night":{"full_sec":$okFullSec,"sampled_sec":$okSampSec,""" +
      s""""gauge_speedup":${if (okSampSec > 0) okFullSec / okSampSec else -1.0},""" +
      s""""full_balance":$okFullBal,"sampled_balance":$okSampBal},""" +
      s""""drift_night":{"full_sec":$drFullSec,"sampled_sec":$drSampSec,""" +
      s""""gauge_speedup":${if (drSampSec > 0) drFullSec / drSampSec else -1.0},""" +
      s""""full_balance":$drFullBal,"sampled_balance":$drSampBal},""" +
      s""""decision_agreement":${okAgree && drAgree},""" +
      s""""signal":${okAgree && drAgree},""" +
      s""""sf":"$sfDir"}"""
    println(s"""{"probe":"zorder_gauge",${gEntry.tail}""")
    writeArtifact("zorder_gauge", gEntry)
    }

    if (probes("asof_merge_scale")) {
    // The physical merge join (AsofJoinExec) vs the union-and-carry
    // composition, same corpus recipe as asof_skew: uniform replica
    // corpus plus 10%/40% single-key hot variants at SCALE×. The merge
    // plan's claim is structural — each side exchanges ONCE in its own
    // schema where the union pays one padded-width exchange (every row
    // carries null-cast columns of the other side) plus a window sort;
    // for `nearest`, one merge pass vs two sorts. Match-count equality
    // between the two plans gates every timing (a fast-but-wrong merge
    // fails loudly). Skew is expected to degrade BOTH plans alike (one
    // key = one partition's merge either way) — the probe records the
    // hot ratios to show the merge introduces no new cliff.
    val ev0 = graft.sources.Tables.withEventTimestamp(
      spark.read.parquet(s"$sfDir/events.parquet"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("ts"), col("value"))
    val evScaled = (0 until scale).map { i =>
      ev0.select((col("event_id") + lit(i.toLong * 100000000L)).as("event_id"),
        (col("user_id") + lit(i.toLong * 1000000L)).as("user_id"),
        col("event_type"), col("ts"), col("value"))
    }.reduce(_ unionByName _)
    def persisted(df: org.apache.spark.sql.DataFrame, name: String) = {
      val p = java.nio.file.Files.createTempDirectory(s"graft_amerge_$name")
        .resolve("events.parquet").toString
      df.repartition(cpus.toInt).write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    val uniform = persisted(evScaled, "uni")
    def hotAt(tenths: Int) = persisted(evScaled.withColumn("user_id",
      when(pmod(col("event_id"), lit(10)) < tenths, lit(1L))
        .otherwise(col("user_id"))), s"hot$tenths")
    def wall(f: => Long): Double =
      (1 to passes).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.min
    // count(click_id) reads the matched payload (the pruning guard the
    // other as-of probes document: a bare count() would let Catalyst
    // drop the join work entirely)
    def matches(ev: org.apache.spark.sql.DataFrame, merge: Boolean,
                dir: String): Long = {
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val joined =
        if (merge) Joins.asOfJoinMerge(p, c, Seq("user_id"), "ts",
          "click_ts", direction = dir)
        // the WINDOW form explicitly: the default dispatcher now routes
        // mergeable shapes to the merge node, so `asOfJoin` here would
        // time merge-vs-merge
        else Joins.asOfJoinWindow(p, c, Seq("user_id"), "ts", "click_ts",
          direction = dir)
      joined.agg(count(col("click_id"))).head().getLong(0)
    }
    def pair(ev: org.apache.spark.sql.DataFrame, dir: String)
        : (Double, Double) = {
      val win = matches(ev, merge = false, dir)
      val mrg = matches(ev, merge = true, dir)
      require(win == mrg,
        s"asOfJoinMerge($dir) diverged from asOfJoin: $mrg vs $win matches")
      (wall(matches(ev, merge = false, dir)),
        wall(matches(ev, merge = true, dir)))
    }
    val rows = uniform.count()
    val dirEntries = Seq("backward", "nearest").map { d =>
      val (w, m) = pair(uniform, d)
      s""""$d":{"window_sec":$w,"merge_sec":$m,""" +
        s""""merge_speedup":${if (m > 0) w / m else -1.0}}"""
    }
    // fixture-scale point (the bench corpus itself, no replication):
    // evidence that the default-dispatch decision needs no small-size
    // gate — the merge wins here too once the payload is actually read
    val fixtureEntry = {
      val ev = graft.sources.Tables.withEventTimestamp(
        spark.read.parquet(s"$sfDir/events.parquet"))
      val (w, m) = pair(ev, "backward")
      s""""fixture":{"rows":${ev.count()},"window_sec":$w,"merge_sec":$m,""" +
        s""""merge_speedup":${if (m > 0) w / m else -1.0}}"""
    }
    val hotEntries = Seq(1, 4).map { tenths =>
      val hot = hotAt(tenths)
      val (w, m) = pair(hot, "backward")
      s""""${tenths * 10}pct":{"window_hot_sec":$w,"merge_hot_sec":$m,""" +
        s""""merge_speedup":${if (m > 0) w / m else -1.0}}"""
    }
    val amEntry = s"""{"scale":$scale,"rows":$rows,"passes":$passes,""" +
      s""""uniform":{${dirEntries.mkString(",")}},""" +
      s""""hot":{${hotEntries.mkString(",")}},""" +
      s"""$fixtureEntry,""" +
      s""""sf":"$sfDir"}"""
    println(s"""{"probe":"asof_merge_scale",${amEntry.tail}""")
    writeArtifact("asof_merge_scale", amEntry)
    }

    // Shared by the PQ probes (pq_crossover, pq_bytes): rotated-replica
    // embedding corpora generated ONCE under a stable cache path and
    // reused across runs (the expensive part is the 100k+ write, not the
    // timing); a 20-query batch from the base fixture.
    lazy val pqcEmb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    lazy val pqcQueries = pqcEmb.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def pqcPathAt(reps: Int) =
      s"/tmp/graft_probe_cache/pqc_r$reps/embeddings.parquet"
    def pqcCorpusAt(reps: Int): org.apache.spark.sql.DataFrame = {
      val p = pqcPathAt(reps)
      if (!new java.io.File(p).exists()) {
        if (reps > 64) {
          // beyond the 64 distinct rotations, tile the cached 64-rotation
          // corpus with id offsets (direction multiplicity scales
          // uniformly — a denser crawl of the same distribution); keeps
          // the build plan 64+tile legs instead of `reps`
          val base = pqcCorpusAt(64)
          val tiles = math.max(1, reps / 64)
          (0 until tiles).map { t =>
            base.select((col("vec_id") + lit(t.toLong * 10000000000L))
              .as("vec_id"), col("embedding"))
          }.reduce(_ union _)
            .repartition(cpus.toInt).write.mode("overwrite").parquet(p)
        } else
          (0 until reps).map { i =>
            pqcEmb.select((col("vec_id") + lit(i.toLong * 100000000L)).as("vec_id"),
              rotate64(col("embedding"), (i * 7) % 64).as("embedding"))
          }.reduce(_ union _)
            .repartition(cpus.toInt).write.mode("overwrite").parquet(p)
      }
      spark.read.parquet(p)
    }

    if (probes("pq_crossover")) {
    // Where the compressed-scan (PQ-ADC) path actually overtakes brute
    // force: ann_scale measures ~20k vectors, where brute force wins and
    // the PQ advantage is only asymptotic; this probe measures
    // brute/IVF/PQ per-batch wall at corpus sizes from ~20k to ~4M and
    // names the crossover, so the "compressed-scan path for exhaustive
    // search" scaladoc claim carries a measured point.
    def corpusAt(reps: Int) = pqcCorpusAt(reps)
    val sizeResults =
      Seq("small" -> 10, "large" -> 50, "xlarge" -> 512, "xxlarge" -> 2048)
        .map { case (label, reps) =>
      val corpus = corpusAt(reps)
      val n = corpus.count()
      val cells = Similarity.autoCells(n)
      val nProbe = math.max(1, cells / 8)
      val idx = java.nio.file.Files.createTempDirectory(s"graft_pqc_ivf").toString
      Similarity.ivfPqBuild(corpus, "embedding", idx, nCells = cells,
        m = 16, ksub = 16)
      val model = Similarity.fitPq(corpus, "embedding", m = 16, ksub = 16)
      val encPath = java.nio.file.Files.createTempDirectory("graft_pqc_enc")
        .resolve("encoded.parquet").toString
      Similarity.pqEncode(corpus, "embedding", model).drop("embedding")
        .write.mode("overwrite").parquet(encPath)
      val encoded = spark.read.parquet(encPath)
      def best(run: () => Long): Double = (1 to passes).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
      }.min
      val brute = best(() => Similarity.bruteForceTopK(corpus, pqcQueries,
        "embedding", "vec_id", "query_id", k = 10).count())
      val ivf = best(() => Similarity.ivfPqProbeTopK(spark, idx, pqcQueries,
        "embedding", "vec_id", "query_id", k = 10, nProbe = nProbe,
        shortlistFactor = 8).count())
      val pq = best(() => Similarity.pqTopKEncoded(encoded, corpus, model,
        pqcQueries, "embedding", "vec_id", "query_id", k = 10,
        shortlistFactor = 8).count())
      (label, n, brute, ivf, pq)
    }
    val winnerAt = sizeResults.map { case (label, n, b, i, p) =>
      val w = Seq("brute_force" -> b, "ivf_pq" -> i, "pq_adc" -> p).minBy(_._2)._1
      s""""$label":"$w""""
    }.mkString("{", ",", "}")
    val crossed = sizeResults.exists { case (_, _, b, _, p) => p < b }
    val sizesJson = sizeResults.map { case (label, n, b, i, p) =>
      s""""$label":{"vectors":$n,"brute_sec":$b,"ivf_pq_sec":$i,"pq_adc_sec":$p}"""
    }.mkString("{", ",", "}")
    val pqcEntry = s"""{"passes":$passes,"sizes":$sizesJson,""" +
      s""""winner_at":$winnerAt,"pq_beats_brute_somewhere":$crossed,""" +
      s""""sf":"$sfDir"}"""
    println(s"""{"probe":"pq_crossover",${pqcEntry.tail}""")
    writeArtifact("pq_crossover", pqcEntry)
    }

    if (probes("pq_bytes")) {
    // The surviving ADC claim is BYTES SCANNED, not local wall time
    // (pq_crossover measured page-cached compute parity) — so measure
    // the bytes each leg actually reads, at the ~1M point, as the
    // MEASURED on-disk parquet footprint of the relation each leg scans
    // end-to-end with no partition pruning: brute force reads the
    // vector relation; the ADC shortlist leg reads only the persisted
    // codes relation (verified: its plan touches no vector column — the
    // codes parquet simply doesn't contain one); the exact re-rank leg
    // re-reads the vector relation (a broadcast shortlist join prunes
    // no row groups locally), so the full PQ path's local byte total is
    // codes + vectors — the honest caveat; the persisted IVF-PQ index
    // narrows both legs to the probed cells' files.
    // (Task-level inputMetrics.bytesRead was tried first and reports
    // only ~0.2 MB per leg on local[n] — RawLocalFileSystem reads
    // bypass the Hadoop statistics the metric is fed from — so file
    // footprints are the trustworthy instrument here, exactly because
    // each leg scans 100% of its relation.)
    val corpusB = pqcCorpusAt(512)
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
      modelB, pqcQueries, "embedding", "vec_id", "query_id", shortlistK = 80)
      .queryExecution.executedPlan.toString
    val codesOnly = !shortlistPlan.contains("pqc_r512")
    def dirBytes(p: String): Long = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(p))
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
    val vecDisk = dirBytes(pqcPathAt(512))
    val codesDisk = dirBytes(encPathB)
    val pqbEntry = s"""{"vectors":$nVec,""" +
      s""""vectors_parquet_bytes":$vecDisk,""" +
      s""""codes_parquet_bytes":$codesDisk,""" +
      s""""brute_leg_bytes":$vecDisk,""" +
      s""""adc_shortlist_leg_bytes":$codesDisk,""" +
      s""""pq_rerank_leg_bytes":$vecDisk,""" +
      s""""adc_scan_ratio_vectors_over_codes":${vecDisk.toDouble / codesDisk},""" +
      s""""vectors_bytes_per_row":${vecDisk.toDouble / nVec},""" +
      s""""codes_bytes_per_row":${codesDisk.toDouble / nVec},""" +
      s""""shortlist_plan_reads_codes_only":$codesOnly,""" +
      s""""sf":"$sfDir"}"""
    println(s"""{"probe":"pq_bytes",${pqbEntry.tail}""")
    writeArtifact("pq_bytes", pqbEntry)
    }

    if (probes("line_dedup_scale")) {
    // Corpus-linearity of line-level boilerplate dedup at SCALE×: replicas
    // are letter-rotated (natural 8-token lines stay per-replica), but the
    // planted header line is the SAME string in every replica — site
    // chrome spans the whole crawl, so its document frequency grows with
    // the corpus and it stays boilerplate at any scale. Claims under
    // test: per-document wall stays flat from 1× to SCALE× (the
    // frequency aggregation and anti-join are corpus-linear; nothing
    // quadratic hides in the reassembly), and the planted boilerplate is
    // ALWAYS removed (zero cleaned documents still contain it).
    val alphaLd = "abcdefghijklmnopqrstuvwxyz"
    def rotatedLd(i: Int) = alphaLd.drop(i % 26) + alphaLd.take(i % 26)
    val header = "subscribe to our newsletter today"
    def synthLines(df: org.apache.spark.sql.DataFrame) = {
      val toks = split(trim(col("text")), "\\s+")
      val body = transform(
        sequence(lit(0L), ((size(toks) - 1) / 8).cast("long")),
        i => array_join(slice(toks, (i * 8 + 1).cast("int"), lit(8)), " "))
      val hdr = when(pmod(col("doc_id"), lit(3)) === 0, array(lit(header)))
        .otherwise(array().cast("array<string>"))
      df.select(col("doc_id"), concat_ws("\n", concat(hdr, body)).as("text"))
    }
    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    def corpusLd(reps: Int): org.apache.spark.sql.DataFrame = {
      val p = java.nio.file.Files.createTempDirectory(s"graft_ld_$reps")
        .resolve("docs.parquet").toString
      synthLines((0 until reps).map { i =>
        docs0.select((col("doc_id") + lit(i.toLong * 100000000L)).as("doc_id"),
          translate(lower(col("text")), alphaLd, rotatedLd(i)).as("text"))
      }.reduce(_ unionByName _))
        .repartition(cpus.toInt).write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    def runLd(c: org.apache.spark.sql.DataFrame): (Double, Long, Long, Long) = {
      val times = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        val r = Dedup.dropBoilerplateLines(c, "text", "doc_id", maxDocFreq = 5)
          .agg(count(lit(1)), sum(col("n_dropped")),
            sum(col("text").contains(header).cast("long")))
          .head()
        ((System.nanoTime() - t0) / 1e9, r.getLong(0), r.getLong(1), r.getLong(2))
      }
      val best = times.minBy(_._1)
      (best._1, best._2, best._3, best._4)
    }
    val small = corpusLd(1)
    val big = corpusLd(scale)
    val (s1, n1, d1, h1) = runLd(small)
    val (sN, nN, dN, hN) = runLd(big)
    val perDocRatio = (sN / nN) / (s1 / n1)
    val ldEntry = s"""{"scale":$scale,"passes":$passes,""" +
      s""""docs_1x":$n1,"sec_1x":$s1,"dropped_1x":$d1,""" +
      s""""docs_big":$nN,"sec_big":$sN,"dropped_big":$dN,""" +
      s""""per_doc_wall_ratio_big_over_1x":$perDocRatio,""" +
      s""""header_survivors_1x":$h1,"header_survivors_big":$hN,""" +
      s""""sf":"$sfDir"}"""
    println(s"""{"probe":"line_dedup_scale",${ldEntry.tail}""")
    writeArtifact("line_dedup_scale", ldEntry)
    }

    if (probes("bpe_train")) {
    // The incremental BPE merge loop vs the naive recount-per-rank
    // reference at a production-flavored depth. Claims under test: the
    // incremental trainer is ≥10× faster at 1k+ merges on a full 65k-word
    // dictionary (the recount loop's O(numMerges × dict symbols) driver
    // cost is what capped practical vocab size), and the two are
    // merge-for-merge IDENTICAL (also equality-pinned at spec scale in
    // BpeSpec; here re-checked at probe scale). The fixture corpus's
    // NATURAL vocabulary is only a few hundred words (synthetic text from
    // a small pool), so a realistic 65k-entry dictionary is COMPOSED from
    // it: compound words = ordered concatenations of fixture words (the
    // morphology-flavored structure BPE exists to exploit — compounds
    // share sub-word runs), Zipf-weighted by composition index, deduped
    // and cut under collectDict's (count desc, word asc) order.
    val docsBp = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(lower(col("text")).as("text"))
    val baseWords = operators.Bpe.collectDict(docsBp, col("text"), 100000)
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
    def timed[A](f: => A): (Double, A) = {
      val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e9, r)
    }
    val refRuns = (1 to passes).map(_ =>
      timed(operators.Bpe.trainReference(cloneDict(), mergesBp)))
    val incRuns = (1 to passes).map(_ =>
      timed(operators.Bpe.trainOnDict(cloneDict(), mergesBp)))
    val refSec = refRuns.map(_._1).min
    val incSec = incRuns.map(_._1).min
    val identical = refRuns.head._2 == incRuns.head._2
    // the production point: a full 32k-merge vocab build, incremental
    // only (the recount loop at this depth is the multi-minute driver
    // ceiling the rewrite removed — extrapolable from ref_sec, not worth
    // re-measuring every run)
    val (deepSec, deepMerges) = {
      val (t, ms) = timed(operators.Bpe.trainOnDict(cloneDict(), 32768))
      (t, ms.length)
    }
    val bpEntry = s"""{"scale":$scale,"passes":$passes,""" +
      s""""dict_words":${dictBp.length},"merges":$mergesBp,""" +
      s""""ref_sec":$refSec,"inc_sec":$incSec,""" +
      s""""speedup":${refSec / incSec},"identical":$identical,""" +
      s""""inc_32k_sec":$deepSec,"inc_32k_merges":$deepMerges,""" +
      s""""sf":"$sfDir"}"""
    println(s"""{"probe":"bpe_train",${bpEntry.tail}""")
    writeArtifact("bpe_train", bpEntry)
    }

    if (probes("minhash_planted_scale")) {
    // The redesigned minhash_pairs regime at SCALE×: threshold-1.0
    // minHashLsh (8 bands × 8 rows) over a corpus with planted
    // identical-text copies of a 10% md5 coin. Claims under test:
    // planted recall stays exactly 1.0 (structural — an identical text
    // has an identical shingle set, hence an identical signature, hence
    // collides in every band — not statistical) and wall stays
    // corpus-linear: candidates are the identical-set pairs plus the
    // ~8·j⁸ random-collision floor, never the dense candidate set a
    // low-threshold banding produces. Replicas carry a distinct leading
    // tag token so cross-replica texts differ and natural identical-set
    // pair volume grows scale-LINEARLY (within-replica only), matching
    // how a real corpus grows.
    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val docsR = (0 until scale).map { i =>
      docs0.select((col("doc_id") + lit(i.toLong * 100000000L)).as("doc_id"),
        concat(lit(s"replica$i "), col("text")).as("text"))
    }.reduce(_ union _)
    val mhPath = java.nio.file.Files.createTempDirectory("graft_mhsc")
      .resolve("documents.parquet").toString
    docsR.repartition(cpus.toInt).write.mode("overwrite").parquet(mhPath)
    val mhBase = spark.read.parquet(mhPath)
    val nMhDocs = mhBase.count()
    val mhPlanted = mhBase
      .filter(substring(md5(col("doc_id").cast("string")), 1, 8) <
        lit(graft.functions.TextFunctions.coinThreshold(0.1)))
    val nMhPlanted = mhPlanted.count()
    val mhCorpus = mhBase.unionByName(mhPlanted
      .select((col("doc_id") + plantOffset).as("doc_id"), col("text")))
    val mhTimes = (1 to passes).map { _ =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val found = Dedup.minHashLsh(mhCorpus, "text", "doc_id",
          shingleSize = 3, numHashes = 64, bands = 8, threshold = 1.0)
        .filter(col("id_b") - col("id_a") === plantOffset).count()
      ((System.nanoTime() - t0) / 1e9, found)
    }
    val mhEntry = s"""{"scale":$scale,"docs":$nMhDocs,""" +
      s""""planted":$nMhPlanted,"passes":$passes,""" +
      s""""sec":${mhTimes.map(_._1).min},""" +
      s""""planted_found":${mhTimes.head._2},""" +
      s""""planted_recall":${mhTimes.head._2.toDouble / nMhPlanted},""" +
      s""""sf":"$sfDir"}"""
    println(s"""{"probe":"minhash_planted_scale",${mhEntry.tail}""")
    writeArtifact("minhash_planted_scale", mhEntry)
    }

    if (probes("incremental_dedup_scale")) {
    // Incremental-ingest regime at SCALE×: the replica-tagged corpus (as
    // minhash_planted_scale) is the already-deduplicated OLD side; the
    // NEW batch is an identical-text copy of a 10% md5 coin. Claims under
    // test: (a) planted recall stays exactly 1.0 — structural, an
    // identical signature collides in every band; (b) minHashLshAgainst
    // costs a small fraction of re-running the self-join minHashLsh over
    // old ∪ new — the candidate volume an ingest loop pays per batch is
    // |new|-proportional, not |corpus|-quadratic-ish.
    val incDocs0 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    val incDocsR = (0 until scale).map { i =>
      incDocs0.select(
        (col("doc_id") + lit(i.toLong * 100000000L)).as("doc_id"),
        concat(lit(s"replica$i "), col("text")).as("text"))
    }.reduce(_ union _)
    val incPath = java.nio.file.Files.createTempDirectory("graft_incsc")
      .resolve("documents.parquet").toString
    incDocsR.repartition(cpus.toInt).write.mode("overwrite").parquet(incPath)
    val oldC = spark.read.parquet(incPath)
    val nOld = oldC.count()
    // a 2% batch: real ingest slices are small against the retained
    // corpus — the regime the amortized-state path exists for
    val newB = oldC
      .filter(substring(md5(col("doc_id").cast("string")), 1, 8) <
        lit(graft.functions.TextFunctions.coinThreshold(0.02)))
      .select((col("doc_id") + plantOffset).as("doc_id"), col("text"))
    val nNew = newB.count()
    val incTimes = (1 to passes).map { _ =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val found = Dedup.minHashLshAgainst(newB, oldC, "text", "doc_id",
          shingleSize = 3, numHashes = 64, bands = 8, threshold = 1.0)
        .filter(!col("other_is_new") &&
          col("id_new") - col("id_other") === plantOffset)
        .count()
      ((System.nanoTime() - t0) / 1e9, found)
    }
    // the amortized-state regime: the corpus's band keys were persisted at
    // ingest time (minHashBandKeys, written once, outside the timer), so a
    // batch pays its own scan + the key join + candidate-only verification
    val keysPath = java.nio.file.Files.createTempDirectory("graft_inckeys")
      .resolve("band_keys.parquet").toString
    Dedup.minHashBandKeys(oldC, "text", "doc_id",
      shingleSize = 3, numHashes = 64, bands = 8)
      .write.mode("overwrite").parquet(keysPath)
    val storedTimes = (1 to passes).map { _ =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val found = Dedup.minHashLshAgainst(newB, oldC, "text", "doc_id",
          shingleSize = 3, numHashes = 64, bands = 8, threshold = 1.0,
          oldKeys = Some(spark.read.parquet(keysPath)))
        .filter(!col("other_is_new") &&
          col("id_new") - col("id_other") === plantOffset)
        .count()
      ((System.nanoTime() - t0) / 1e9, found)
    }
    // the non-incremental alternative the ingest loop would otherwise pay
    val fullTimes = (1 to passes).map { _ =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      Dedup.minHashLsh(oldC.unionByName(newB), "text", "doc_id",
        shingleSize = 3, numHashes = 64, bands = 8, threshold = 1.0).count()
      (System.nanoTime() - t0) / 1e9
    }
    val incSec = incTimes.map(_._1).min
    val storedSec = storedTimes.map(_._1).min
    val fullSec = fullTimes.min
    val incEntry = s"""{"scale":$scale,"old_docs":$nOld,"new_docs":$nNew,""" +
      s""""passes":$passes,"incremental_sec":$incSec,""" +
      s""""stored_keys_sec":$storedSec,""" +
      s""""full_repair_sec":$fullSec,""" +
      s""""ratio":${incSec / fullSec},""" +
      s""""stored_ratio":${storedSec / fullSec},""" +
      s""""planted_found":${incTimes.head._2},""" +
      s""""stored_found":${storedTimes.head._2},""" +
      s""""planted_recall":${incTimes.head._2.toDouble / nNew},""" +
      s""""sf":"$sfDir"}"""
    println(s"""{"probe":"incremental_dedup_scale",${incEntry.tail}""")
    writeArtifact("incremental_dedup_scale", incEntry)
    }

    if (probes("cdf_scale")) {
    // The change-data-feed claim: SnapshotStore.changes reads bytes
    // proportional to the CHURNED buckets (manifest diff), not the table.
    // Two regimes, both recorded honestly:
    //  - small batch (fewer update keys than buckets): the feed prunes to
    //    the touched buckets' files at both versions, so bytes and wall
    //    collapse vs a naive full pre-vs-post diff;
    //  - saturating batch (keys spread across every bucket): hash
    //    bucketing has no locality to exploit, every bucket moved, and
    //    the feed legitimately degrades to the naive cost — the honest
    //    ceiling of bucket-granular pruning (at production bucket counts,
    //    thousands, saturation needs a proportionally larger batch).
    // Bytes are measured from the plans' own inputFiles (the pruned file
    // lists), wall from the classified-diff count.
    import graft.sinks.{SnapshotStore, UpsertConfig}
    val evC = graft.sources.Tables.withEventTimestamp(
      spark.read.parquet(s"$sfDir/events.parquet"))
      .select(col("event_id"), col("value"))
    val dataC = (0 until scale).map { i =>
      evC.select((col("event_id") + lit(i.toLong * 100000000L)).as("event_id"),
        col("value"),
        // wide payload: the bytes bucket pruning saves must exist
        repeat(md5(concat(col("event_id").cast("string"), lit(s"c$i"))), 8)
          .as("payload"))
    }.reduce(_ unionByName _)
    val cdfCfg = UpsertConfig(discriminant = Seq("event_id"),
      clock = Some(to_timestamp(lit("2026-01-01 00:00:00"))))
    val cdfBuckets = 64
    def fileBytes(paths: Array[String]): Long = paths.map { p =>
      val fp = new org.apache.hadoop.fs.Path(p)
      fp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(fp).getLen
    }.sum
    def naiveDiff(root: String, from: Long, to: Long)
        : org.apache.spark.sql.DataFrame = {
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
    def regime(name: String, updates: org.apache.spark.sql.DataFrame)
        : String = {
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_cdf_$name").resolve("store").toString
      SnapshotStore.upsert(spark, root, dataC, cdfCfg, nBuckets = cdfBuckets)
      SnapshotStore.upsert(spark, root, updates, cdfCfg)
      val changed = SnapshotStore.changedBuckets(spark, root, 0L, 1L)
      val feedDf = SnapshotStore.changes(spark, root, 0L, 1L)
      val feedBytes = fileBytes(feedDf.inputFiles)
      val naiveDf = naiveDiff(root, 0L, 1L)
      val naiveBytes = fileBytes(naiveDf.inputFiles)
      val nUpdates = updates.count()
      val feedSec = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        val n = SnapshotStore.changes(spark, root, 0L, 1L).count()
        require(n == nUpdates, s"feed rows $n != update keys $nUpdates")
        (System.nanoTime() - t0) / 1e9
      }.min
      val naiveSec = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        val n = naiveDiff(root, 0L, 1L).count()
        require(n == nUpdates, s"naive rows $n != update keys $nUpdates")
        (System.nanoTime() - t0) / 1e9
      }.min
      s""""$name":{"update_keys":$nUpdates,""" +
        s""""changed_buckets":${changed.size},"buckets":$cdfBuckets,""" +
        s""""feed_sec":$feedSec,"naive_sec":$naiveSec,""" +
        s""""speedup":${if (feedSec > 0) naiveSec / feedSec else -1.0},""" +
        s""""feed_bytes":$feedBytes,"naive_bytes":$naiveBytes,""" +
        s""""bytes_fraction":${feedBytes.toDouble / naiveBytes}}"""
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
    val cdfEntry = s"""{"scale":$scale,"rows":$rowsC,"passes":$passes,""" +
      s"""${regime("small_batch", smallUpd)},""" +
      s"""${regime("saturating_batch", wideUpd)},""" +
      s""""sf":"$sfDir"}"""
    println(s"""{"probe":"cdf_scale",${cdfEntry.tail}""")
    writeArtifact("cdf_scale", cdfEntry)
    }

    if (probes("delete_scale")) {
    // SnapshotStore.delete's claim: a small opt-out batch against a big
    // store costs O(touched buckets) — the victim keys hash to their
    // buckets, only those are read + anti-joined + rewritten. The naive
    // alternative (what a store without key bucketing must do) is a
    // full-table anti-join rewrite, measured here as SnapshotStore.rewrite
    // with the same anti-join on an identical twin store. Bytes are the
    // on-disk sizes of the touched bucket directories vs the whole store
    // (the read sets of the two legs); the feed-totality check pins that
    // the pruned path still reports every removed row as a delete.
    import graft.sinks.{SnapshotStore, UpsertConfig}
    val evDel = graft.sources.Tables.withEventTimestamp(
      spark.read.parquet(s"$sfDir/events.parquet"))
      .select(col("event_id"), col("value"))
    val dataD = (0 until scale).map { i =>
      evDel.select((col("event_id") + lit(i.toLong * 100000000L)).as("event_id"),
        col("value"),
        repeat(md5(concat(col("event_id").cast("string"), lit(s"x$i"))), 8)
          .as("payload"))
    }.reduce(_ unionByName _)
    val cfgD = UpsertConfig(discriminant = Seq("event_id"),
      clock = Some(to_timestamp(lit("2026-01-01 00:00:00"))))
    val bucketsD = 256
    def mkStoreD(tag: String): String = {
      val r = java.nio.file.Files
        .createTempDirectory(s"graft_del_$tag").resolve("store").toString
      SnapshotStore.upsert(spark, r, dataD, cfgD, nBuckets = bucketsD)
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
    def dirBytes(p: String): Long = {
      val fp = new org.apache.hadoop.fs.Path(p)
      val fs = fp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(fp)) 0L
      else fs.getContentSummary(fp).getLength
    }
    val storeBytes = dirBytes(s"$rootP/snapshot=0")
    val t0p = System.nanoTime()
    val nDel = SnapshotStore.delete(spark, rootP, victims)
    val prunedSec = (System.nanoTime() - t0p) / 1e9
    require(nDel == nVictims, s"pruned delete removed $nDel of $nVictims")
    val changedD = SnapshotStore.changedBuckets(spark, rootP, 0L, 1L)
    val touchedBytes = changedD.toSeq.map(b =>
      dirBytes(s"$rootP/snapshot=0/__bucket=$b")).sum
    val feedD = SnapshotStore.changes(spark, rootP, 0L, 1L)
    val feedRows = feedD.collect()
    val feedTotal = feedRows.length == nDel.toInt &&
      feedRows.forall(_.getAs[String]("_change_type") == "delete")
    val t0n = System.nanoTime()
    SnapshotStore.rewrite(spark, rootN,
      df => df.join(broadcast(victims), Seq("event_id"), "left_anti"))
    val naiveSec = (System.nanoTime() - t0n) / 1e9
    val nRemainN = SnapshotStore.read(spark, rootN).get.count()
    require(nRemainN == rowsD - nDel,
      s"naive leg kept $nRemainN, expected ${rowsD - nDel}")
    val delEntry = s"""{"scale":$scale,"rows":$rowsD,""" +
      s""""buckets":$bucketsD,"victims":$nVictims,"deleted":$nDel,""" +
      s""""changed_buckets":${changedD.size},""" +
      s""""pruned_sec":$prunedSec,"naive_rewrite_sec":$naiveSec,""" +
      s""""speedup":${if (prunedSec > 0) naiveSec / prunedSec else -1.0},""" +
      s""""touched_bytes":$touchedBytes,"store_bytes":$storeBytes,""" +
      s""""bytes_fraction":${touchedBytes.toDouble / math.max(1L, storeBytes)},""" +
      s""""feed_total":$feedTotal,""" +
      s""""sf":"$sfDir"}"""
    println(s"""{"probe":"delete_scale",${delEntry.tail}""")
    writeArtifact("delete_scale", delEntry)
    }

    if (probes("index_delete_scale")) {
    // Similarity.indexDelete's claim (the delete_scale economy carried to
    // the serving index): a small opt-out batch against a big index
    // rewrites ONLY the cells that held the victims — never the relation.
    // The naive alternative anti-joins and rewrites the whole data
    // relation, measured on an identical twin. Bytes are the REWRITE
    // sets: touched cell dirs vs the whole relation (the victim-locating
    // scan additionally reads the id column once — column-pruned, the
    // vectors and codes stay unread).
    val embI = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
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
      .repartition(cpus.toInt)
    def mkIndexI(tag: String): String = {
      val r = java.nio.file.Files
        .createTempDirectory(s"graft_idxdel_$tag").resolve("index").toString
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
    def dirBytesI(p: String): Long = {
      val fp = new org.apache.hadoop.fs.Path(p)
      val fsl = fp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fsl.exists(fp)) 0L else fsl.getContentSummary(fp).getLength
    }
    val dataBytes = dirBytesI(s"$idxP/data")
    // the pruned path's rewrite set, measured on the PRUNED index itself:
    // the victims' cells (one column-pruned locate read, outside the timed
    // legs) and their pre-delete sizes from METADATA only
    val touchedI = spark.read.parquet(s"$idxP/data")
      .select("vec_id", "__cell")
      .join(broadcast(victimsI), Seq("vec_id"), "left_semi")
      .select("__cell").distinct().collect().map(_.getInt(0)).toSeq
    val touchedBytes = touchedI.map(c =>
      dirBytesI(s"$idxP/data/__cell=$c")).sum
    val t0i = System.nanoTime()
    val nDelI = Similarity.indexDelete(spark, idxP, victimsI,
      idCol = "vec_id")
    val prunedSecI = (System.nanoTime() - t0i) / 1e9
    require(nDelI == nVictimsI,
      s"pruned index delete removed $nDelI of $nVictimsI")
    // naive leg: full anti-join rewrite of the data relation on the twin
    val t0ni = System.nanoTime()
    spark.read.parquet(s"$idxN/data")
      .join(broadcast(victimsI), Seq("vec_id"), "left_anti")
      .write.mode("overwrite").partitionBy("__cell")
      .parquet(s"$idxN/data_rw")
    val naiveSecI = (System.nanoTime() - t0ni) / 1e9
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
    val idxEntry = s"""{"index":"ivf-pq","scale":$scale,"rows":$rowsI,""" +
      s""""cells":$cellsI,"victims":$nVictimsI,"deleted":$nDelI,""" +
      s""""touched_cells":${touchedI.size},""" +
      s""""pruned_sec":$prunedSecI,"naive_rewrite_sec":$naiveSecI,""" +
      s""""speedup":${
        if (prunedSecI > 0) naiveSecI / prunedSecI else -1.0},""" +
      s""""touched_cell_bytes":$touchedBytes,""" +
      s""""data_bytes":$dataBytes,""" +
      s""""rewrite_bytes_fraction":${
        touchedBytes.toDouble / math.max(1L, dataBytes)},""" +
      s""""post_delete_healthy":$healthy,""" +
      s""""sf":"$sfDir"}"""
    println(s"""{"probe":"index_delete_scale",${idxEntry.tail}""")
    writeArtifact("index_delete_scale", idxEntry)
    }

    if (probes("core_scaling")) {
    // Core-count scaling of the heavy operator families at manufactured
    // sf1 (SCALE× rotated replicas of sf0.1 — the pair_join_scale /
    // semdedup_scale construction). Motivation (r21 verdict): at sf0.1 the
    // bench suite is scheduling-bound, so 8→32-core ratios read ≈1 for
    // most queries and say nothing about whether the operators
    // parallelize; this probe measures the same operators at a volume
    // where compute dominates. Run it TWICE — SPARK_GRAFT_CPUS=8 and =32
    // with SPARK_GRAFT_PROBES=core_scaling — and compare the
    // `core_scaling_c8` / `core_scaling_c32` entries. The staged corpora
    // are written at a FIXED partition count (32, not `cpus`) so both
    // runs scan the identical file layout and the ratio measures the
    // engine, not the staging.
    // SPARK_GRAFT_CORE_OPS: comma list to re-run a subset (the text and
    // vector families want different SCALE values — the embeddings
    // fixture is 25× smaller than documents, so the vector ops need
    // SCALE≈100 before compute dominates, where the text ops at 100
    // would run far past any useful budget). Staging is per-family so a
    // filtered run pays only for the corpora its ops read.
    val csOpFilter = sys.env.get("SPARK_GRAFT_CORE_OPS")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def csSelected(name: String): Boolean = csOpFilter.forall(_(name))
    val csTextOps = Seq("ngram_pairs", "chargram_minhash", "simhash_pairs",
      "charlm_score")
    val csVecOps = Seq("semdedup_pairs", "pq_topk")
    val csAlpha = "abcdefghijklmnopqrstuvwxyz"
    def csRot(i: Int) = csAlpha.drop(i % 26) + csAlpha.take(i % 26)
    val csParts = 32
    val csTmp = java.nio.file.Files.createTempDirectory("graft_coresc")
    lazy val csDocs: org.apache.spark.sql.DataFrame = {
      val d0 = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      (0 until scale).map { i =>
        d0.select(
          (col("doc_id") + lit(i.toLong * 100000000L)).as("doc_id"),
          translate(lower(col("text")), csAlpha, csRot(i)).as("text"))
      }.reduce(_ union _)
        .repartition(csParts).write.mode("overwrite")
        .parquet(csTmp.resolve("docs.parquet").toString)
      spark.read.parquet(csTmp.resolve("docs.parquet").toString)
    }
    lazy val csEmb: org.apache.spark.sql.DataFrame = {
      val e0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select("vec_id", "embedding")
      (0 until scale).map { i =>
        e0.select((col("vec_id") + lit(i.toLong * 100000000L)).as("vec_id"),
          rotate64(col("embedding"), (i * 7) % 64).as("embedding"))
      }.reduce(_ union _)
        .repartition(csParts).write.mode("overwrite")
        .parquet(csTmp.resolve("emb.parquet").toString)
      spark.read.parquet(csTmp.resolve("emb.parquet").toString)
    }
    val nCsDocs = if (csTextOps.exists(csSelected)) csDocs.count() else 0L
    val nCsVecs = if (csVecOps.exists(csSelected)) csEmb.count() else 0L
    lazy val csQueries = csEmb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val csOpsAll: Seq[(String, () => Long)] = Seq(
      "ngram_pairs" -> (() => Dedup.ngramJaccardPairs(
        csDocs, "text", "doc_id", shingleSize = 3, threshold = 0.1,
        strategy = "single").count()),
      "chargram_minhash" -> (() => Dedup.charJaccardPairs(
        csDocs, "text", "doc_id", shingleSize = 12, threshold = 0.3,
        maxDf = 50L * scale, strategy = "minhash").count()),
      "simhash_pairs" -> (() => Dedup.simHash(
        csDocs, "text", "doc_id").count()),
      "charlm_score" -> (() => graft.operators.CorpusStats
        .charLmScore(csDocs, "text", "doc_id", n = 3, topV = 5000)
        .agg(count(lit(1)), sum("freq_sum"), sum("oov"))
        .collect()(0).getLong(0)),
      "semdedup_pairs" -> (() => Dedup.semanticDedupPairs(
        csEmb, "embedding", "vec_id", threshold = 0.9).count()),
      "pq_topk" -> (() => Similarity.pqTopK(csEmb, csQueries,
        "embedding", "vec_id", "query_id", k = 10, m = 16).count()))
    val csOps = csOpFilter match {
      case Some(names) => csOpsAll.filter { case (n, _) => names(n) }
      case None => csOpsAll
    }
    val csResults = csOps.map { case (name, run) =>
      val times = (1 to passes).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val rows = run()
        ((System.nanoTime() - t0) / 1e9, rows)
      }
      (name, times.map(_._1).min, times.head._2)
    }
    val csOpsJson = csResults.map { case (n, sec, rows) =>
      s""""$n":{"sec":$sec,"rows":$rows}"""
    }.mkString("{", ",", "}")
    val csEntry = s"""{"scale":$scale,"cpus":$cpus,"docs":$nCsDocs,""" +
      s""""vectors":$nCsVecs,"passes":$passes,"staged_partitions":$csParts,""" +
      s""""ops":$csOpsJson,"sf":"$sfDir"}"""
    // filtered re-runs get their own key so a family probed at a
    // different SCALE doesn't overwrite the default full entry
    val csKey =
      if (csOpFilter.isEmpty) s"core_scaling_c$cpus"
      else s"core_scaling_c${cpus}_x$scale"
    println(s"""{"probe":"$csKey",${csEntry.tail}""")
    writeArtifact(csKey, csEntry)
    }

    spark.stop()
  }
}
