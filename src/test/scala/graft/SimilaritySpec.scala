package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{lit, transform}

import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (10L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (11L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
    (12L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
    (13L, Array(-1.0f, 0.0f, 0.0f, 0.0f))
  ).toDF("vec_id", "embedding")

  private val queries = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f, 0.0f))
  ).toDF("query_id", "embedding")

  test("k < 1 and corpus column collisions fail fast with clear messages") {
    intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(corpus, queries,
        "embedding", "vec_id", "query_id", k = 0).collect()
    }
    val clashing = corpus.withColumnRenamed("vec_id", "query_id")
    val ex = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(clashing, queries,
        "embedding", "query_id", "query_id", k = 1)
    }
    ex.getMessage should include("collide")
  }

  test("brute-force top-k ranks by cosine with deterministic tie-break") {
    val out = Similarity.bruteForceTopK(corpus, queries,
      "embedding", "vec_id", "query_id", k = 3).orderBy("rank").collect()
    out.map(_.getLong(1)) shouldBe Array(10L, 11L, 12L)
    out.map(_.getInt(3)) shouldBe Array(1, 2, 3)
    out.head.getDouble(2) shouldBe 1.0 +- 1e-9
  }

  test("ivf top-k: exact scores on probed cells; full recall when probing " +
    "all cells") {
    val brute = Similarity.bruteForceTopK(corpus, queries,
      "embedding", "vec_id", "query_id", k = 4)
      .select("vec_id", "cosine").as[(Long, Double)].collect().toMap
    // probing every cell must reproduce the exact brute-force answer
    val full = Similarity.ivfTopK(corpus, queries,
      "embedding", "vec_id", "query_id", k = 4, nCells = 2, nProbe = 2)
      .select("vec_id", "cosine").as[(Long, Double)].collect()
    full.toMap shouldBe brute
    // probing 1 of 2 cells: subset of the corpus, still exactly scored
    val partial = Similarity.ivfTopK(corpus, queries,
      "embedding", "vec_id", "query_id", k = 4, nCells = 2, nProbe = 1)
      .select("vec_id", "cosine").as[(Long, Double)].collect()
    partial should not be empty
    partial.foreach { case (id, cos) => cos shouldBe brute(id) +- 1e-9 }
  }

  test("ivf recall on the embeddings fixture (16 cells, 4 probes)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val qs = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding")
    val corpus = emb.filter($"vec_id" >= 5)
    val brute = Similarity.bruteForceTopK(corpus, qs,
      "embedding", "vec_id", "query_id", 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(corpus, qs,
      "embedding", "vec_id", "query_id", 10, nCells = 16, nProbe = 4)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (ivf intersect brute).size.toDouble / brute.size
    recall should be >= 0.3 // probing 1/4 of cells; deterministic for seed 42
  }

  test("ivf sampled fit: an explicit sub-1.0 fit fraction still yields exact " +
    "scores and nonzero recall (quantizer quality only gates which cells " +
    "exist, never the arithmetic)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val qs = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding")
    val corpus = emb.filter($"vec_id" >= 5)
    val brute = Similarity.bruteForceTopK(corpus, qs,
      "embedding", "vec_id", "query_id", 10)
      .select("query_id", "vec_id", "cosine").as[(Long, Long, Double)]
      .collect().map { case (q, v, c) => (q, v) -> c }.toMap
    val ivf = Similarity.ivfTopK(corpus, qs,
      "embedding", "vec_id", "query_id", 10, nCells = 16, nProbe = 4,
      fitSampleFraction = 0.25)
      .select("query_id", "vec_id", "cosine").as[(Long, Long, Double)]
      .collect()
    ivf should not be empty
    val recall = ivf.count { case (q, v, _) => brute.contains((q, v)) }
      .toDouble / brute.size
    recall should be >= 0.3
    ivf.foreach { case (q, v, c) =>
      brute.get((q, v)).foreach(b => c shouldBe b +- 1e-6)
    }
  }

  test("bucketed IVF corpus: probes are partition-pruned reads of only the " +
    "probed cells' directories") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Similarity.ivfPqBuild(emb.filter($"vec_id" >= 5), "embedding", path,
      nCells = 8, m = 16, ksub = 16)

    val cellDirs = new java.io.File(s"$path/data").listFiles()
      .map(_.getName).count(_.startsWith("__cell="))
    cellDirs should be > 2 // corpus spreads over cells; pruning is observable

    val qs = emb.filter($"vec_id" < 1)
      .select($"vec_id".as("query_id"), $"embedding")
    // the Spark entry point: the plan a probe above the driver gate runs
    val res = Similarity.probePlan(spark, path, qs,
      "embedding", "vec_id", "query_id", k = 5, nProbe = 2,
      shortlistFactor = 8).onSpark

    // the re-rank scan (the one reading the vectors) carries a literal
    // partition filter on __cell and selects at most nProbe of the cell
    // directories (1 query × 2 probes)
    val scans = res.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.output.exists(_.name == "embedding") => f
    }
    scans should not be empty
    scans.head.metadata("PartitionFilters") should include regex "__cell#\\d+ IN \\("
    scans.head.selectedPartitions.partitionCount should be <= 2

    // and the probe's answers are exactly scored
    val rows = res.select("vec_id", "cosine").as[(Long, Double)].collect()
    rows should not be empty
    val brute = Similarity.bruteForceTopK(
      emb.filter($"vec_id" >= 5), qs, "embedding", "vec_id", "query_id", 200)
      .select("vec_id", "cosine").as[(Long, Double)].collect().toMap
    rows.foreach { case (id, c) => c shouldBe brute(id) +- 1e-6 }
  }

  test("lsh top-k returns exactly-scored cosines for whatever it retrieves " +
    "(approximation loses candidates, never mis-scores them)") {
    val brute = Similarity.bruteForceTopK(corpus, queries,
      "embedding", "vec_id", "query_id", k = 4)
      .select("vec_id", "cosine").as[(Long, Double)].collect().toMap
    val lsh = Similarity.lshTopK(corpus, queries,
      "embedding", "vec_id", "query_id", k = 4, nPlanes = 4, dim = 4)
      .select("vec_id", "cosine").as[(Long, Double)].collect()
    lsh should not be empty
    lsh.foreach { case (id, cos) => cos shouldBe brute(id) +- 1e-9 }
    // the query's own-direction nearest neighbor shares all sign buckets
    lsh.map(_._1) should contain(10L)
  }

  test("pq encode: codes are in [0, ksub) with one per subspace, and the " +
    "codebooks are deterministic for a fixed seed") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val model = Similarity.fitPq(emb, "embedding", m = 8, ksub = 16)
    model.m shouldBe 8
    model.dsub shouldBe 8
    model.ksub shouldBe 16
    val codes = Similarity.pqEncode(emb, "embedding", model)
      .select("__codes").as[Seq[Int]].collect()
    codes.foreach { cs =>
      cs.length shouldBe 8
      cs.foreach { c => c should (be >= 0 and be < 16) }
    }
    val model2 = Similarity.fitPq(emb, "embedding", m = 8, ksub = 16)
    model2.codebooks.flatten.flatten.toSeq shouldBe
      model.codebooks.flatten.flatten.toSeq
  }

  test("pq top-k on the embeddings fixture: exact re-ranked cosines, full " +
    "k returned, recall floor vs brute force, deterministic across runs") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val qs = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("query_id"), $"embedding")
    val corp = emb.filter($"vec_id" >= 5)
    val pq = Similarity.pqTopK(corp, qs, "embedding", "vec_id", "query_id",
        k = 10, m = 16, ksub = 16, shortlistFactor = 8)
      .select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect()
    pq.groupBy(_._1).values.foreach(_.length shouldBe 10)
    // returned cosines are EXACT (the re-rank contract): equal to the
    // brute-force score of the same (query, id) pair
    val brute = Similarity.bruteForceTopK(corp, qs, "embedding", "vec_id",
        "query_id", k = corp.count().toInt)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .map { case (q, id, c) => (q, id) -> c }.toMap
    pq.foreach { case (q, id, c, _) => c shouldBe brute((q, id)) +- 1e-9 }
    // recall@10 vs the exact top-10, per query. Measured (deterministic,
    // fixed seed): 10,10,7,9,10 at sf0.001 and 10,9,10,9,10 at sf0.01 for
    // m=16/ksub=16/shortlistFactor=8; floor 6 leaves headroom for fixture
    // regeneration. Random synthetic embeddings are PQ's worst case (no
    // cluster structure for the codebooks to exploit) — real embedding
    // corpora sit well above this floor at the same parameters.
    val exactTop = Similarity.bruteForceTopK(corp, qs, "embedding", "vec_id",
        "query_id", k = 10)
      .select("query_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    pq.groupBy(_._1).foreach { case (q, rows) =>
      val hit = rows.map(_._2).count(exactTop(q).contains)
      withClue(s"query $q recall@10: ") { hit should be >= 6 }
    }
    val again = Similarity.pqTopK(corp, qs, "embedding", "vec_id",
        "query_id", k = 10, m = 16, ksub = 16, shortlistFactor = 8)
      .select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect()
    again.sortBy(r => (r._1, r._4)) shouldBe pq.sortBy(r => (r._1, r._4))
  }

  test("ivf-pq inline: ample shortlist + full probe equals brute force " +
    "exactly; partial probe still returns exactly-scored cosines") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val qs = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding")
    val corp = emb.filter($"vec_id" >= 5)
    val n = corp.count().toInt
    // shortlistFactor sized so the shortlist covers the whole corpus:
    // both approximations are then exhaustive and the result must EQUAL
    // brute force row-for-row
    val full = Similarity.ivfPqTopK(corp, qs, "embedding", "vec_id",
        "query_id", k = 10, nCells = 8, nProbe = 8, m = 16, ksub = 16,
        shortlistFactor = n / 10 + 1)
      .select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    val brute = Similarity.bruteForceTopK(corp, qs, "embedding", "vec_id",
        "query_id", k = 10)
      .select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4))
    full shouldBe brute
    // partial probe: whatever is retrieved is exactly scored
    val bruteAll = Similarity.bruteForceTopK(corp, qs, "embedding",
        "vec_id", "query_id", k = n)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .map { case (q, id, c) => (q, id) -> c }.toMap
    Similarity.ivfPqTopK(corp, qs, "embedding", "vec_id", "query_id",
        k = 10, nCells = 8, nProbe = 2, m = 16, ksub = 16,
        shortlistFactor = 8)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .foreach { case (q, id, c) => c shouldBe bruteAll((q, id)) +- 1e-9 }
  }

  test("ivf-pq persisted index: probes partition-prune to the probed " +
    "cells, the ADC scan reads no vectors (column pruning), results " +
    "match the inline form, and the rebuild fence is honored") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corp = emb.filter($"vec_id" >= 5)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    Similarity.ivfPqBuild(corp, "embedding", path, nCells = 8, m = 16,
      ksub = 16)
    val qs = emb.filter($"vec_id" < 1)
      .select($"vec_id".as("query_id"), $"embedding")
    // the Spark entry point: the plan a probe above the driver gate runs
    val res = Similarity.probePlan(spark, path, qs, "embedding", "vec_id",
      "query_id", k = 5, nProbe = 2, shortlistFactor = 8).onSpark
    val scans = res.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.metadata.contains("PartitionFilters") &&
          f.metadata("PartitionFilters").contains("__cell") => f
    }
    scans should not be empty
    // every data-scan leg prunes to the probed cells...
    scans.foreach(_.selectedPartitions.partitionCount should be <= 2)
    // ...and the ADC leg's scan reads codes+norm but NOT the vectors
    exactly(1, scans.map(_.output.map(_.name).toSet)) should
      (contain("__codes") and not contain "embedding")
    // retrieved rows carry exact cosines and match the inline composition
    // (same seed, same corpus -> same quantizer and codebooks)
    val inline = Similarity.ivfPqTopK(corp, qs, "embedding", "vec_id",
        "query_id", k = 5, nCells = 8, nProbe = 2, m = 16, ksub = 16,
        shortlistFactor = 8)
      .select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4)
    res.select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4) shouldBe inline
    // fence: a .rebuilding marker (a crashed swap may have left MIXED
    // generations) refuses probes and the cell-stats gauge...
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(path, ".rebuilding"))
    intercept[IllegalStateException] {
      Similarity.ivfPqProbeTopK(spark, path, qs, "embedding", "vec_id",
        "query_id", k = 5)
    }.getMessage should include(".rebuilding")
    an[IllegalStateException] should be thrownBy
      Similarity.ivfCellStats(spark, path).count()
    // ...and a COMPLETED rebuild-from-source rewrites every relation from
    // one generation and lifts the fence itself
    Similarity.ivfPqBuild(corp, "embedding", path, nCells = 8, m = 16,
      ksub = 16)
    new java.io.File(path, ".rebuilding").exists() shouldBe false
    Similarity.ivfPqProbeTopK(spark, path, qs, "embedding", "vec_id",
      "query_id", k = 5, nProbe = 2, shortlistFactor = 8)
      .select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4) shouldBe inline
  }

  test("a driver-served probe reads only the probed cells' files: garbage " +
    "in a cell it does not probe changes nothing, garbage in a probed " +
    "cell fails loudly") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq_drv")
      .toString
    Similarity.ivfPqBuild(emb.filter($"vec_id" >= 5), "embedding", path,
      nCells = 8, m = 16, ksub = 16)
    val qs = emb.filter($"vec_id" < 1)
      .select($"vec_id".as("query_id"), $"embedding")
    def probe() = Similarity.ivfPqProbeTopK(spark, path, qs, "embedding",
        "vec_id", "query_id", k = 5, nProbe = 2, shortlistFactor = 8)
      .select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val plan = Similarity.probePlan(spark, path, qs, "embedding", "vec_id",
      "query_id", k = 5, nProbe = 2, shortlistFactor = 8)
    plan.servedOnDriver shouldBe true
    val probed = plan.cells
    val before = probe()
    before should not be empty
    def garble(cell: Int): Unit =
      new java.io.File(path, s"data/__cell=$cell").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .foreach(f => java.nio.file.Files.write(f.toPath,
          "not a parquet file".getBytes("UTF-8")))
    val cells = new java.io.File(path, "data").listFiles()
      .map(_.getName).filter(_.startsWith("__cell="))
      .map(_.stripPrefix("__cell=").toInt)
    garble(cells.find(c => !probed(c)).get)
    probe() shouldBe before
    garble(probed.head)
    an[Exception] should be thrownBy probe()
  }

  test("ivfPqAppend extends a persisted IVF-PQ index with the standing " +
    "quantizer and codebooks: full-probe exhaustive-settings results on " +
    "the union equal brute force, appended codes land in existing cells, " +
    "and the fence refuses the append") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val base = emb.filter($"vec_id" >= 5 && $"vec_id" % 3 =!= 0)
    val extra = emb.filter($"vec_id" >= 5 && $"vec_id" % 3 === 0)
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpqa").toString
    Similarity.ivfPqBuild(base, "embedding", path, nCells = 4, m = 16,
      ksub = 16)
    val cellsBefore = spark.read.parquet(s"$path/data")
      .select("__cell").distinct().as[Int].collect().toSet
    val qs = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding")
    def exhaustive() = Similarity.ivfPqProbeTopK(spark, path, qs,
        "embedding", "vec_id", "query_id", k = 5, nProbe = 4,
        shortlistFactor = 64)
      .select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    def bruteOver(c: org.apache.spark.sql.DataFrame) =
      Similarity.bruteForceTopK(c, qs, "embedding", "vec_id", "query_id",
          k = 5)
        .select("query_id", "vec_id", "cosine", "rank")
        .as[(Long, Long, Double, Int)].collect().toSet
    // prefix-visibility contract: an append is non-atomic to concurrent
    // readers, but any prefix of it is a consistent smaller index — after
    // only part of the batch lands, an exhaustive probe is exactly brute
    // force over base ∪ the visible prefix (encoded and assigned with the
    // model the probe ranks), never a torn view
    val prefix = extra.filter($"vec_id" % 2 === 1)
    Similarity.ivfPqAppend(prefix, "embedding", path)
    exhaustive() shouldBe bruteOver(base.unionByName(prefix))
    Similarity.ivfPqAppend(extra.filter($"vec_id" % 2 =!= 1), "embedding",
      path)
    // no new cells: the standing quantizer owns the cell space
    spark.read.parquet(s"$path/data")
      .select("__cell").distinct().as[Int].collect().toSet shouldBe cellsBefore
    // every row accounted for, codes present on the appended rows
    spark.read.parquet(s"$path/data").count() shouldBe
      (base.count() + extra.count())
    spark.read.parquet(s"$path/data")
      .filter($"__codes".isNull).count() shouldBe 0L
    // per-cell stats see the union
    Similarity.ivfCellStats(spark, path)
      .agg(org.apache.spark.sql.functions.sum("n")).as[Long].head() shouldBe
      (base.count() + extra.count())
    // exhaustive settings (all cells probed, ample shortlist): the index
    // over base ∪ extra must reproduce brute force exactly
    exhaustive() shouldBe bruteOver(base.unionByName(extra))
    // fence: a .rebuilding marker refuses the append
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(path, ".rebuilding"))
    an[IllegalStateException] should be thrownBy
      Similarity.ivfPqAppend(extra, "embedding", path)
  }

  test("pq top-k excludes zero vectors and fails fast on a non-divisible " +
    "subspace split") {
    val zc = corpus.unionByName(
      Seq((14L, Array(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"))
    val out = Similarity.pqTopK(zc, queries, "embedding", "vec_id",
      "query_id", k = 5, m = 2, ksub = 4)
      .select("vec_id").as[Long].collect()
    out should not contain 14L
    intercept[IllegalArgumentException] {
      Similarity.fitPq(corpus, "embedding", m = 3, ksub = 4)
    }
  }

  test("knnJoin with every cell probed equals brute-force top-k minus self") {
    val got = Similarity.knnJoin(corpus, "embedding", "vec_id", k = 2,
        nCells = 2, nProbe = 2)
      .select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    // brute-force over corpus-as-queries; self is always rank 1 (cosine 1,
    // unique in this corpus), so top-3 minus self re-ranked = top-2 others
    val want = Similarity.bruteForceTopK(corpus,
        corpus.select($"vec_id".as("query_id"), $"embedding"),
        "embedding", "vec_id", "query_id", k = 3)
      .filter($"query_id" =!= $"vec_id")
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect()
      .groupBy(_._1).toSeq.flatMap { case (q, rows) =>
        rows.sortBy(r => (-r._3, r._2)).take(2).zipWithIndex
          .map { case ((_, id, c), i) => (q, id, c, i + 1) }
      }.toSet
    got shouldBe want
    want.size should be > 4
  }

  test("knnJoin: planted same-direction twins are each other's rank-1 " +
    "neighbor at cosine exactly 1 under single-probe cluster-prune — the " +
    "knn_join contract at unit scale") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").filter($"vec_id" < 300)
    val planted = emb.filter($"vec_id" % 7 === 0)
      .select(($"vec_id" + 1000L).as("vec_id"),
        transform($"embedding", x => x * lit(4.0f)).as("embedding"))
    val nPlanted = planted.count()
    val g = Similarity.knnJoin(emb.unionByName(planted), "embedding",
      "vec_id", k = 2, maxCell = Int.MaxValue)
    val copyTop = g.filter($"query_id" >= 1000L && $"rank" === 1)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect()
    copyTop.length.toLong shouldBe nPlanted
    copyTop.foreach { case (q, n, c) =>
      n shouldBe q - 1000L
      c shouldBe 1.0
    }
    val srcTop = g.filter($"query_id" < 1000L && $"query_id" % 7 === 0 &&
        $"rank" === 1)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect()
    srcTop.length.toLong shouldBe nPlanted
    srcTop.foreach { case (q, n, c) =>
      n shouldBe q + 1000L
      c shouldBe 1.0
    }
  }

  test("knnJoin: cosines exact, zero vectors excluded, self never an edge, " +
    "and the maxCell guard drops candidate membership of oversized cells") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.8f, 0.2f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f)) // zero vector: no direction
    ).toDF("vec_id", "embedding")
    val rows = Similarity.knnJoin(vecs, "embedding", "vec_id", k = 5,
        nCells = 1)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect()
    rows.map(_._1).toSet shouldBe Set(0L, 1L, 2L)
    rows.map(_._2).toSet shouldBe Set(0L, 1L, 2L)
    rows.foreach { case (q, n, _) => q should not be n }
    val b = Array(0.9f, 0.1f, 0.0f, 0.0f).map(_.toDouble)
    val exp = b(0) / math.sqrt(b.map(x => x * x).sum)
    rows.find(r => r._1 == 0L && r._2 == 1L).get._3 shouldBe (exp +- 2e-6)
    // a 3-member cell over maxCell = 2 contributes no candidates
    Similarity.knnJoin(vecs, "embedding", "vec_id", k = 5, nCells = 1,
      maxCell = 2).count() shouldBe 0L
  }

  /** The corpus with every component offset — a shifted distribution the
    * frozen codebooks quantize badly (each subvector lands far from every
    * fitted sub-centroid), ids displaced past the originals. */
  private def shiftedCopy(df: org.apache.spark.sql.DataFrame,
                          offset: Double): org.apache.spark.sql.DataFrame = {
    val elem = df.schema("embedding").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    df.select(($"vec_id" + lit(1000000L)).as("vec_id"),
      transform($"embedding", x => (x + lit(offset)).cast(elem))
        .as("embedding"))
  }

  test("ivfPqMaintain: codebook drift on a persisted IVF-PQ index " +
    "triggers a full refit (quantizer + codebooks + cell count) under " +
    "the fence; the gauge recovers and exhaustive probes stay exact") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corp = emb.filter($"vec_id" >= 5).select("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivfpqdrift").toString
    Similarity.ivfPqBuild(corp, "embedding", path, nCells = 4, m = 16,
      ksub = 16)
    val fresh = Similarity.ivfPqDriftStats(spark, path, "embedding")
    fresh.ratio should be < 1.5
    // wide skew/growth bounds: this test exercises the DRIFT trigger
    // alone (a 4-cell fixture is naturally skewed from birth)
    def maintain() = Similarity.ivfPqMaintain(spark, path, "embedding",
      maxSkew = 1e6, maxGrowth = 1e6)
    maintain() shouldBe "ok"
    Similarity.ivfPqAppend(shiftedCopy(corp, 8.0), "embedding", path)
    Similarity.ivfPqDriftStats(spark, path, "embedding").ratio should be > 2.0
    maintain() shouldBe "rebuilt"
    new java.io.File(path, ".staging").exists() shouldBe false
    new java.io.File(path, ".old").exists() shouldBe false
    new java.io.File(path, ".rebuilding").exists() shouldBe false
    val after = Similarity.ivfPqDriftStats(spark, path, "embedding")
    after.ratio should be < 1.5
    spark.read.parquet(s"$path/data").count() shouldBe corp.count() * 2
    // the refit owns the cell space again: no null codes, no torn halves
    spark.read.parquet(s"$path/data")
      .filter($"__codes".isNull).count() shouldBe 0L
    val union = corp.unionByName(shiftedCopy(corp, 8.0))
    val qs = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding")
    val nCellsNow = spark.read.parquet(s"$path/centroids").count().toInt
    val got = Similarity.ivfPqProbeTopK(spark, path, qs, "embedding",
        "vec_id", "query_id", k = 5, nProbe = nCellsNow,
        shortlistFactor = 64)
      .select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    val want = Similarity.bruteForceTopK(union, qs, "embedding", "vec_id",
        "query_id", k = 5)
      .select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    got shouldBe want
    maintain() shouldBe "ok"
    // pre-gauge indexes (no meta baseline) fail LOUDLY, naming the cure
    val legacy = java.nio.file.Files
      .createTempDirectory("graft_ivfpqlegacy").toString
    Similarity.ivfPqBuild(corp, "embedding", legacy, nCells = 4, m = 16,
      ksub = 16)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(legacy, "meta"))
    intercept[IllegalArgumentException] {
      Similarity.ivfPqDriftStats(spark, legacy, "embedding")
    }.getMessage should include("predates the codebook-drift gauge")
    // a fenced index refuses the gauge like every other reader
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(path, ".rebuilding"))
    an[IllegalStateException] should be thrownBy
      Similarity.ivfPqDriftStats(spark, path, "embedding")
  }

  test("ivfPqMaintain also watches cell skew: an in-distribution append " +
    "concentrated near one direction (codebooks still fit — the drift " +
    "gauge alone would sleep through it) trips the skew bound and the " +
    "rebuild rebalances the cells") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corp = emb.filter($"vec_id" >= 5).select("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("graft_ivfpqskew").toString
    Similarity.ivfPqBuild(corp, "embedding", path, nCells = 8, m = 16,
      ksub = 16)
    def skewNow(): Double = {
      val counts = Similarity.ivfCellStats(spark, path)
        .select("n").as[Long].collect()
      val cells = spark.read.parquet(s"$path/centroids").count()
      counts.max.toDouble / (counts.sum.toDouble / cells)
    }
    // maxSkew is in BUILD-TIME units (ratio vs the recorded fit_skew
    // baseline): the naturally-clustered fixture reads ratio ~1 fresh, so
    // a 1.5x bound is quiet even though ABSOLUTE max/mean exceeds it
    val freshSkew = skewNow()
    Similarity.ivfPqMaintain(spark, path, "embedding",
      maxSkew = 1.5, maxGrowth = 1e6) shouldBe "ok"
    // 2x the corpus as blends toward ONE member vector: every value stays
    // inside the fitted range (quantization fine) but the mass piles into
    // that vector's cell
    val elem = corp.schema("embedding").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    val hot = corp.orderBy("vec_id").limit(1)
      .select($"embedding".as("__hot"))
    val blended = corp.crossJoin(org.apache.spark.sql.functions
        .broadcast(hot))
      .select(($"vec_id" + 1000000L).as("vec_id"),
        org.apache.spark.sql.functions.transform(
          org.apache.spark.sql.functions.zip_with($"embedding", $"__hot",
            (a, b) => a * lit(0.3) + b * lit(0.7)),
          x => x.cast(elem)).as("embedding"))
    Similarity.ivfPqAppend(blended, "embedding", path)
    Similarity.ivfPqAppend(blended.select(($"vec_id" + 1000000L)
      .as("vec_id"), $"embedding"), "embedding", path)
    // drift gauge alone stays calm; the skew trigger fires the rebuild
    Similarity.ivfPqDriftStats(spark, path, "embedding").ratio should
      be < 2.0
    val driftedSkew = skewNow()
    driftedSkew should be > freshSkew * 1.5 // skew GREW past the bound
    val cellsBefore = spark.read.parquet(s"$path/centroids").count()
    Similarity.ivfPqMaintain(spark, path, "embedding",
      maxSkew = 1.5, maxGrowth = 1e6) shouldBe "rebuilt"
    // the rebuild re-derived the quantizer for the grown corpus (more
    // cells — the hot pile gets cells of its own), kept every row, and a
    // maintain at the post-rebuild equilibrium is quiet. (Absolute
    // max/mean recovery on a near-duplicate pile is a SCALE property —
    // measured for the family in SCALEPROBE ivf_maintain at sf0.1 — not
    // asserted on this tiny fixture, where autoCells growth shrinks the
    // mean and inflates the ratio even as the pile splits.)
    spark.read.parquet(s"$path/centroids").count() should be > cellsBefore
    spark.read.parquet(s"$path/data").count() shouldBe corp.count() * 3
    // CONVERGENCE: the rebuild recorded its own equilibrium as the new
    // baseline, so the SAME bound that fired is quiet the next night —
    // the maintain loop can never rebuild a clustered corpus forever
    Similarity.ivfPqMaintain(spark, path, "embedding",
      maxSkew = 1.5, maxGrowth = 1e6) shouldBe "ok"
  }

  test("indexMaintain detects the persisted layout and runs the right " +
    "family's maintenance — and refuses an unrecognized directory " +
    "instead of running a rebuild that would drop relations") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corp = emb.filter($"vec_id" >= 5).select("vec_id", "embedding")
    val ivfpqPath = java.nio.file.Files
      .createTempDirectory("graft_im_ivfpq").toString
    Similarity.ivfPqBuild(corp, "embedding", ivfpqPath, nCells = 4,
      m = 16, ksub = 16)
    Similarity.indexMaintain(spark, ivfpqPath, "embedding",
      maxSkew = 1e6, maxGrowth = 1e6) shouldBe ("ivf-pq", "ok")
    // a drifted index rebuilds THROUGH the composite
    Similarity.ivfPqAppend(shiftedCopy(corp, 8.0), "embedding", ivfpqPath)
    Similarity.indexMaintain(spark, ivfpqPath, "embedding",
      maxSkew = 1e6, maxGrowth = 1e6) shouldBe ("ivf-pq", "rebuilt")
    // the drift gauge is file-SAMPLED: even a one-file budget returns a
    // finite reading (bounded IO by construction; detection power at the
    // default 16-file budget is exercised by the drift tests above)
    val one = Similarity.ivfPqDriftStats(spark, ivfpqPath, "embedding",
      sampleFiles = 1)
    one.ratio should be >= 0.0
    java.lang.Double.isFinite(one.currentMqe) shouldBe true
    // a crashed append's _temporary debris (not even valid parquet) must
    // never enter the gauge sample — hidden path COMPONENTS disqualify,
    // exactly as Spark's own directory reads filter them
    val debris = java.nio.file.Paths.get(ivfpqPath, "data", "__cell=0",
      "_temporary", "0")
    java.nio.file.Files.createDirectories(debris)
    java.nio.file.Files.write(debris.resolve("part-junk.parquet"),
      Array[Byte](1, 2, 3))
    java.lang.Double.isFinite(
      Similarity.ivfPqDriftStats(spark, ivfpqPath, "embedding").currentMqe
    ) shouldBe true
    // not an index -> loud refusal, nothing touched
    val junk = java.nio.file.Files
      .createTempDirectory("graft_im_junk").toString
    an[IllegalArgumentException] should be thrownBy
      Similarity.indexMaintain(spark, junk, "embedding")
  }

  test("recall recalibration across PQ-family rebuilds: maintain with a " +
    "recallTarget re-derives the shortlist width (and nProbe for IVF-PQ) " +
    "against the REBUILT index — a rebuild restores quantization quality " +
    "but the widths tuned for the old corpus are stale — and the " +
    "calibrated widths become the probes' defaults until the next " +
    "codebook refit invalidates them") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corp = emb.filter($"vec_id" >= 5).select("vec_id", "embedding")
    val qs = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding")

    // ---- IVF-PQ through the composite entry point: both widths
    val ipqPath = java.nio.file.Files
      .createTempDirectory("graft_cal_ivfpq").toString
    Similarity.ivfPqBuild(corp, "embedding", ipqPath, nCells = 8, m = 16,
      ksub = 16)
    Similarity.ivfPqAppend(shiftedCopy(corp, 8.0), "embedding", ipqPath)
    Similarity.indexMaintain(spark, ipqPath, "embedding",
      idCol = "vec_id", maxSkew = 1e6, maxGrowth = 1e6,
      recallTarget = Some(0.9)) shouldBe ("ivf-pq", "rebuilt")
    val Some((np1, f1)) = Similarity.calibratedPqWidths(spark, ipqPath)
    np1 should be >= 1
    f1 should be >= 1
    val cells = spark.read.parquet(s"$ipqPath/centroids").count().toInt
    np1 should be <= cells
    val ipqDefault = Similarity.ivfPqProbeTopK(spark, ipqPath, qs,
        "embedding", "vec_id", "query_id", k = 5)
      .select("query_id", "vec_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val ipqExplicit = Similarity.ivfPqProbeTopK(spark, ipqPath, qs,
        "embedding", "vec_id", "query_id", k = 5, nProbe = np1,
        shortlistFactor = f1)
      .select("query_id", "vec_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    ipqDefault shouldBe ipqExplicit
    // standalone recalibration against a LIVE index (no rebuild) also
    // lands
    val (np2, f2) = Similarity.ivfPqCalibrate(spark, ipqPath, "embedding",
      "vec_id", target = 0.5)
    Similarity.calibratedPqWidths(spark, ipqPath) shouldBe Some((np2, f2))
    // a softer target never needs wider scanning than a harder one on
    // the same measured curve
    np2 should be <= np1
    // the calibrator's own on-sample measurement met the target (the
    // one-sided margin makes this hold unless the factor cap binds,
    // which this fixture is far from)
    val calPath = java.nio.file.Paths.get(ipqPath, "pqcal.json")
    Similarity.ivfPqCalibrate(spark, ipqPath, "embedding", "vec_id",
      target = 0.9)
    """"measured_recall":([0-9.]+)""".r
      .findFirstMatchIn(new String(java.nio.file.Files.readAllBytes(calPath),
        "UTF-8")).get.group(1).toDouble should be >= 0.9
    // the default honors whatever widths are persisted for the CURRENT
    // generation: full probe + a corpus-covering shortlist written by
    // hand (through the Hadoop FS so the checksum sidecar stays
    // consistent) makes the default probe equal brute force exactly
    val gen = Similarity.readGeneration(spark, ipqPath).get
    val hCal = new org.apache.hadoop.fs.Path(ipqPath, "pqcal.json")
    val o = hCal.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(hCal, true)
    try o.write((s"""{"nprobe":$cells,"shortlist_factor":400,""" +
      s""""gen":"$gen","eof":true}""").getBytes("UTF-8"))
    finally o.close()
    Similarity.ivfPqProbeTopK(spark, ipqPath, qs, "embedding", "vec_id",
        "query_id", k = 5)
      .select("query_id", "vec_id", "rank")
      .as[(Long, Long, Int)].collect().toSet shouldBe
      Similarity.bruteForceTopK(corp.unionByName(shiftedCopy(corp, 8.0)),
          qs, "embedding", "vec_id", "query_id", k = 5)
        .select("query_id", "vec_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    // a quantizer/codebook refit (overwrite build) invalidates the
    // calibration — widths tuned against a replaced model are
    // wrong-generation
    Similarity.ivfPqBuild(corp, "embedding", ipqPath, nCells = 8, m = 16,
      ksub = 16)
    Similarity.calibratedPqWidths(spark, ipqPath) shouldBe None
  }

  test("indexDelete on IVF-PQ and plain IVF: victims located by a " +
    "column-pruned scan, only their cells rewritten, exhaustive probes " +
    "match brute force over the survivors, and a fenced index refuses " +
    "the delete") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corp = emb.filter($"vec_id" >= 5).select("vec_id", "embedding")
    val n0 = corp.count()
    val victims = corp.select("vec_id").orderBy("vec_id").limit(5)
    val victimIds = victims.as[Long].collect().toSet
    // two plain queries plus two victims' own vectors: a probe with a
    // victim's vector must retrieve its nearest SURVIVOR, never the victim
    val qs = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding")
      .unionByName(corp.filter($"vec_id".isin(victimIds.toSeq.take(2): _*))
        .select(($"vec_id" + 500000L).as("query_id"), $"embedding"))

    val ipq = java.nio.file.Files
      .createTempDirectory("graft_idxdel_ipq").toString
    // multi-partition inputs: every write still emits one file per cell
    Similarity.ivfPqBuild(corp.repartition(4), "embedding", ipq, nCells = 8,
      m = 16, ksub = 16)
    def cellFiles(): Map[String, Set[String]] =
      new java.io.File(ipq, "data").listFiles()
        .filter(_.getName.startsWith("__cell="))
        .map(d => d.getName -> d.listFiles().map(_.getName)
          .filter(_.endsWith(".parquet")).toSet).toMap
    val built = cellFiles()
    built.values.foreach(_.size shouldBe 1)
    // an append adds at most one file per cell and keeps the built ones;
    // its rows are copies of non-victim vectors under fresh ids
    val extra = corp.filter($"vec_id" >= 100 && $"vec_id" < 140)
      .withColumn("vec_id", $"vec_id" + 1000000L)
    Similarity.ivfPqAppend(extra.repartition(4), "embedding", ipq)
    val survivors = corp.unionByName(extra)
      .filter(!$"vec_id".isin(victimIds.toSeq: _*))
    val before = cellFiles()
    before.foreach { case (c, files) =>
      val kept = built.getOrElse(c, Set.empty[String])
      files should contain allElementsOf kept
      (files -- kept).size should be <= 1
    }
    val victimCells = spark.read.parquet(s"$ipq/data")
      .filter($"vec_id".isin(victimIds.toSeq: _*))
      .select("__cell").as[Int].collect().map(c => s"__cell=$c").toSet
    Similarity.indexDelete(spark, ipq, victims.toDF("vec_id"),
      idCol = "vec_id") shouldBe 5L
    // no debris, no fence, no lease left behind
    Seq(".staging", ".old", ".rebuilding", ".mutating").foreach(
      new java.io.File(ipq, _).exists() shouldBe false)
    val data = spark.read.parquet(s"$ipq/data")
    data.count() shouldBe n0 + 40 - 5
    data.filter($"vec_id".isin(victimIds.toSeq: _*)).count() shouldBe 0L
    // BOUNDED REWRITE: cells the victims did not live in kept their exact
    // files (not rewritten, not touched); each victim cell was compacted
    // to one file
    val after = cellFiles()
    val changed = before.keySet.filter(c => after.get(c) != before.get(c))
    changed.size should be <= 5 // at most one cell per victim
    changed shouldBe victimCells
    changed.foreach(c => after.get(c).foreach(_.size shouldBe 1))
    changed.size should be < before.size
    val cells = spark.read.parquet(s"$ipq/centroids").count().toInt
    val gotIpq = Similarity.ivfPqProbeTopK(spark, ipq, qs, "embedding",
        "vec_id", "query_id", k = 5, nProbe = cells, shortlistFactor = 128)
      .select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    gotIpq.map(_._2).intersect(victimIds) shouldBe empty
    gotIpq shouldBe Similarity.bruteForceTopK(survivors, qs, "embedding",
        "vec_id", "query_id", k = 5)
      .select("query_id", "vec_id", "cosine", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet
    // replay converges: the ids are already gone
    Similarity.indexDelete(spark, ipq, victims.toDF("vec_id"),
      idCol = "vec_id") shouldBe 0L

    // a plain-IVF layout (data/ + centroids/, no codebooks/) is no longer
    // served: the delete refuses it, naming the path
    val ivf = java.nio.file.Files
      .createTempDirectory("graft_idxdel_ivf").toString
    Seq("data/__cell=0", "centroids").foreach(d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(ivf, d)))
    intercept[IllegalArgumentException] {
      Similarity.indexDelete(spark, ivf, victims.toDF("vec_id"),
        idCol = "vec_id")
    }.getMessage should include(s"no IVF-PQ index at $ivf")

    // a fenced index refuses the delete like every other reader/writer
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(ipq, ".rebuilding"))
    an[IllegalStateException] should be thrownBy
      Similarity.indexDelete(spark, ipq, victims.toDF("vec_id"),
        idCol = "vec_id")
  }

  test("indexDelete's driver key set and its join plan remove and store " +
    "the same rows: null keys, a stored null id, INT keys on a LONG index, " +
    "duplicate and no-match keys and an emptied cell") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corp = emb.filter($"vec_id" >= 5).select("vec_id", "embedding")
    // a stored null id, carrying a real vector
    val withNull = corp.unionByName(corp.filter($"vec_id" === 5L)
      .select(lit(null).cast("long").as("vec_id"), $"embedding"))
    val onDriver = java.nio.file.Files
      .createTempDirectory("graft_idxdel_drv").toString
    Similarity.ivfPqBuild(withNull, "embedding", onDriver, nCells = 8,
      m = 16, ksub = 16)
    // the join plan's twin: a copy of the same files
    val joined = java.nio.file.Files
      .createTempDirectory("graft_idxdel_join").toString
    val src = java.nio.file.Paths.get(onDriver)
    java.nio.file.Files.walk(src).iterator().asScala.foreach { f =>
      val to = java.nio.file.Paths.get(joined).resolve(src.relativize(f))
      if (java.nio.file.Files.isDirectory(f))
        java.nio.file.Files.createDirectories(to)
      else java.nio.file.Files.copy(f, to)
    }
    def stored(path: String): (Seq[String], Seq[String]) = (
      spark.read.parquet(s"$path/data").collect().map(_.toString).toSeq.sorted,
      new java.io.File(path, "data").list().filter(_.startsWith("__cell="))
        .toSeq.sorted)
    // each batch through the driver key set (a gate above every batch
    // here) on one twin and through the join plan (driverKeys = 0) on the
    // other
    def agree(keys: DataFrame, expected: Long): Unit = {
      Similarity.indexDeleteGated(spark, onDriver, keys, idCol = "vec_id",
        driverKeys = 100000) shouldBe expected
      Similarity.indexDeleteGated(spark, joined, keys, idCol = "vec_id",
        driverKeys = 0) shouldBe expected
      stored(onDriver) shouldBe stored(joined)
    }
    val ids = corp.select("vec_id").as[Long].collect().sorted
    // INT keys on the LONG index, a null key, a duplicate, a no-match key
    agree(Seq[Integer](ids(0).toInt, null, ids(0).toInt, ids(1).toInt,
      999999).toDF("vec_id"), 2L)
    agree(Seq(999999L).toDF("vec_id"), 0L)
    agree(Seq[java.lang.Long](null).toDF("vec_id"), 0L)
    // every id of one cell: the cell's directory goes on both twins
    val cellIds = spark.read.parquet(s"$onDriver/data")
      .filter($"__cell" === 3 && $"vec_id".isNotNull).select("vec_id")
      .as[Long].collect().toSeq
    cellIds should not be empty
    val nullInCell3 = spark.read.parquet(s"$onDriver/data")
      .filter($"__cell" === 3 && $"vec_id".isNull).count()
    agree(cellIds.toDF("vec_id"), cellIds.size.toLong)
    new java.io.File(onDriver, "data/__cell=3").exists() shouldBe
      (nullInCell3 > 0)
    spark.read.parquet(s"$onDriver/data").filter($"vec_id".isNull)
      .count() shouldBe 1L
  }

  test("maintenance over a fully drained corpus (total opt-out) reports " +
    "ok instead of crashing the nightly run: the gauge has nothing to " +
    "sample, and the direct gauge call says so loudly") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corp = emb.filter($"vec_id" >= 5).select("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("graft_empty_ipq").toString
    Similarity.ivfPqBuild(corp, "embedding", path, nCells = 4, m = 16,
      ksub = 16)
    // drain every row the way a full opt-out purge does
    Similarity.indexDelete(spark, path, corp.select("vec_id"),
      idCol = "vec_id") shouldBe corp.count()
    spark.read.parquet(s"$path/data").count() shouldBe 0L
    Similarity.indexMaintain(spark, path, "embedding",
      idCol = "vec_id") shouldBe ("ivf-pq", "ok")
    val ex = intercept[IllegalStateException] {
      Similarity.ivfPqDriftStats(spark, path, "embedding")
    }
    ex.getMessage should include("nothing to gauge")
    // PROBES return zero rows instead of dying on schema inference (the
    // drained relation is re-seeded with one empty schema-carrying file)
    val qs = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding")
    Similarity.ivfPqProbeTopK(spark, path, qs, "embedding", "vec_id",
      "query_id", k = 5, nProbe = 4, shortlistFactor = 64)
      .count() shouldBe 0L
    // re-ingest after the drain: the standing model still encodes, and
    // probes serve the re-ingested rows
    Similarity.ivfPqAppend(corp.limit(3), "embedding", path)
    spark.read.parquet(s"$path/data").count() shouldBe 3L
    Similarity.ivfPqProbeTopK(spark, path, qs, "embedding", "vec_id",
        "query_id", k = 3, nProbe = 4, shortlistFactor = 64)
      .groupBy("query_id").count().collect()
      .foreach(_.getLong(1) shouldBe 3L)
  }

  /** A top-5 probe (shortlist factor 128) through each serving path: the
    * public call, which the gate serves on the driver at test sizes, and
    * the Spark plan that serves probes above the gate. */
  private def probePaths(path: String, qs: DataFrame,
                         nProbe: Int): Seq[(String, () => DataFrame)] = {
    def plan() = Similarity.probePlan(spark, path, qs, "embedding", "vec_id",
      "query_id", k = 5, nProbe = nProbe, shortlistFactor = 128)
    Seq("public" -> (() => Similarity.ivfPqProbeTopK(spark, path, qs,
        "embedding", "vec_id", "query_id", k = 5, nProbe = nProbe,
        shortlistFactor = 128)),
      "spark-plan" -> (() => plan().onSpark))
  }

  test("probe vs indexDelete race, live: probes hammering through three " +
    "concurrent delete batches observe only COMPLETE answers (some " +
    "committed state's exact top-k) or loud retryable failures — never " +
    "silent partial results from a half-swapped index") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corp = emb.filter($"vec_id" >= 5).select("vec_id", "embedding")
      .localCheckpoint(true)
    val qs = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding")
      .localCheckpoint(true)
    val path = java.nio.file.Files
      .createTempDirectory("graft_idxdel_race").toString
    Similarity.ivfPqBuild(corp, "embedding", path, nCells = 8, m = 16,
      ksub = 16)
    val ids = corp.select("vec_id").as[Long].collect().sorted
    // the legal answers: exact top-k of each committed state (the same
    // arithmetic the full-width probe returns on a consistent snapshot).
    // Each batch deliberately includes current top-k members, so every
    // committed state has a DIFFERENT answer — a partial read cannot
    // hide behind two states sharing one.
    def topk(gone: Set[Long]): Set[(Long, Long)] = {
      val survivors =
        if (gone.isEmpty) corp
        else corp.filter(!$"vec_id".isin(gone.toSeq: _*))
      Similarity.bruteForceTopK(survivors, qs, "embedding", "vec_id",
          "query_id", k = 5)
        .select("query_id", "vec_id")
        .as[(Long, Long)].collect().toSet
    }
    var gone = Set.empty[Long]
    val legal = scala.collection.mutable.ArrayBuffer(topk(gone))
    val batches = (0 until 3).map { i =>
      val currentTop = legal.last.map(_._2)
      val fillers = ids.iterator
        .filter(id => !gone.contains(id) && !currentTop.contains(id))
        .slice(i * 8, i * 8 + 8).toArray
      val b = (currentTop.toSeq.sorted.take(2) ++ fillers).toArray
      gone ++= b
      legal += topk(gone)
      b
    }
    legal.distinct.size shouldBe legal.size // deletes must move the top-k
    val paths = probePaths(path, qs, nProbe = 8)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val successes = paths.map(_ => new java.util.concurrent.atomic.AtomicLong(0L))
    val hammer = new Thread(() => {
      var n = 0
      while (!stop.get()) {
        val (name, probe) = paths(n % paths.size)
        try {
          val got = probe().select("query_id", "vec_id")
            .as[(Long, Long)].collect().toSet
          if (legal.contains(got)) successes(n % paths.size).incrementAndGet()
          else bad.add(s"$name probe saw a state matching no committed " +
            s"answer: $got")
        } catch { case _: Throwable => () } // loud + retryable: allowed
        n += 1
      }
    })
    hammer.start()
    try {
      // at least one probe of each path lands on the clean pre-delete
      // state, so the success assertion cannot be starved by mutation
      // windows
      val t0 = System.nanoTime()
      while (successes.exists(_.get() == 0L) && bad.isEmpty &&
          System.nanoTime() - t0 < 120e9.toLong) Thread.sleep(50)
      batches.foreach { b =>
        Similarity.indexDelete(spark, path, b.toSeq.toDF("vec_id"),
          idCol = "vec_id") shouldBe b.length.toLong
        Thread.sleep(300) // a breath of settled state between swaps
      }
    } finally {
      stop.set(true)
      hammer.join(120000)
    }
    bad.toArray.toSeq shouldBe empty
    successes.foreach(_.get() should be >= 1L)
    // the settled index serves exactly the final committed answer
    paths.foreach { case (_, probe) =>
      probe().select("query_id", "vec_id")
        .as[(Long, Long)].collect().toSet shouldBe legal.last
    }
  }

  test("probe vs rebuild race, live: probes hammering through three " +
    "fenced overwrite rebuilds return the exact answer or fail loudly — " +
    "a stale-quantizer plan pruning the rebuilt files (the silent " +
    "wrong-neighbors mode the generation marker exists for) never " +
    "surfaces as data") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corp = emb.filter($"vec_id" >= 5).select("vec_id", "embedding")
      .localCheckpoint(true)
    val qs = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding")
      .localCheckpoint(true)
    val path = java.nio.file.Files
      .createTempDirectory("graft_rebuild_race").toString
    def build(cells: Int): Unit = Similarity.ivfPqBuild(corp, "embedding",
      path, nCells = cells, m = 16, ksub = 16)
    build(4)
    // the rows never change, so the over-probed (all cells, whatever the
    // current generation's cell count; a shortlist covering the corpus)
    // top-k is ONE invariant answer — any deviation is exactly the silent
    // mixed-generation read
    val exact = Similarity.bruteForceTopK(corp, qs, "embedding", "vec_id",
        "query_id", k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val paths = probePaths(path, qs, nProbe = 999)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val successes = paths.map(_ => new java.util.concurrent.atomic.AtomicLong(0L))
    val hammer = new Thread(() => {
      var n = 0
      while (!stop.get()) {
        val (name, probe) = paths(n % paths.size)
        try {
          val got = probe().select("query_id", "vec_id")
            .as[(Long, Long)].collect().toSet
          if (got == exact) successes(n % paths.size).incrementAndGet()
          else bad.add(s"$name probe returned non-exact rows " +
            s"mid-rebuild: $got")
        } catch { case _: Throwable => () } // fence/gen/missing-file: loud
        n += 1
      }
    })
    hammer.start()
    try {
      val t0 = System.nanoTime()
      while (successes.exists(_.get() == 0L) && bad.isEmpty &&
          System.nanoTime() - t0 < 120e9.toLong) Thread.sleep(50)
      // three fenced overwrite rebuilds with DIFFERENT cell counts: the
      // dangerous window is a probe that loaded generation i's centroids
      // and lists generation i+1's files — with 4 vs 8 vs 16 cells, a
      // stale 4-cell plan over 16-cell files reads a quarter of the
      // corpus and WOULD return wrong neighbors if the guard missed
      (0 until 3).foreach { i =>
        build(4 << (i + 1))
        Thread.sleep(300)
      }
    } finally {
      stop.set(true)
      hammer.join(120000)
    }
    bad.toArray.toSeq shouldBe empty
    successes.foreach(_.get() should be >= 1L)
    paths.foreach { case (_, probe) =>
      probe().select("query_id", "vec_id")
        .as[(Long, Long)].collect().toSet shouldBe exact
    }
  }

  test("writer lease: appends into a leased index refuse LOUDLY instead " +
    "of being silently dropped by the in-progress mutation's swap; " +
    "mutations refuse a foreign/stale lease; the lease is released on " +
    "completion and probes never check it") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corp = emb.filter($"vec_id" >= 5).select("vec_id", "embedding")
    val newRows = emb.filter($"vec_id" < 2)
      .select(($"vec_id" + 70000L).as("vec_id"), $"embedding")
    val qs = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding")
    val path = java.nio.file.Files
      .createTempDirectory("graft_lease").toString
    Similarity.ivfPqBuild(corp, "embedding", path, nCells = 2, m = 16,
      ksub = 16)
    // a held lease (as a crashed or concurrent mutation would leave it)
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(path, ".mutating"))
    val aex = intercept[IllegalStateException] {
      Similarity.ivfPqAppend(newRows, "embedding", path)
    }
    aex.getMessage should include("already leased by another writer")
    aex.getMessage should include("redelivers the epoch") // append retry story
    // an EMPTY marker (a pre-payload writer's, or hand-made like this
    // one) degrades to naming WHY the holder is unknown — the refusal
    // never invents a holder and never fails on its own diagnostics
    aex.getMessage should include("holder unknown")
    val dex = intercept[IllegalStateException] {
      Similarity.indexDelete(spark, path,
        corp.select("vec_id").limit(2), idCol = "vec_id")
    }
    dex.getMessage should include("already leased")
    // a rebuild-bound maintain refuses too (2 cells vs autoCells' floor
    // trips maxGrowth, so this WOULD rebuild)
    val mex = intercept[IllegalStateException] {
      Similarity.ivfPqMaintain(spark, path, "embedding",
        maxSkew = 1e9, maxGrowth = 1.0)
    }
    mex.getMessage should include("already leased")
    // probes do NOT check the lease: reads stay live through long
    // mutations (the fence, not the lease, guards the brief swap)
    Similarity.ivfPqProbeTopK(spark, path, qs, "embedding", "vec_id",
      "query_id", k = 3, nProbe = 2).count() should be > 0L
    // releasing the stale lease re-admits every writer, and each path
    // releases it again on completion
    java.nio.file.Files.delete(java.nio.file.Paths.get(path, ".mutating"))
    Similarity.ivfPqAppend(newRows, "embedding", path)
    spark.read.parquet(s"$path/data").count() shouldBe corp.count() + 2
    Similarity.ivfPqMaintain(spark, path, "embedding",
      maxSkew = 1e9, maxGrowth = 1.0) shouldBe "rebuilt"
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, ".mutating")) shouldBe false
    Similarity.indexDelete(spark, path,
      newRows.select("vec_id"), idCol = "vec_id") shouldBe 2L
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, ".mutating")) shouldBe false
    // the overwrite build shares the refusal on an existing leased root
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(path, ".mutating"))
    an[IllegalStateException] should be thrownBy
      Similarity.ivfPqBuild(corp, "embedding", path, nCells = 2, m = 16,
        ksub = 16)
    // ...and the refusal is FAIL-FAST: it fires BEFORE the corpus
    // count/fit (at scale the auto-sizing count is a full scan — wasted
    // ahead of a certain refusal). Pinned with a corpus whose any action
    // fails: on the leased root the build must throw the LEASE refusal,
    // never reach the corpus — dropping the precheck (refusing only at
    // acquisition, after the count and fit) surfaces the read failure
    // instead and fails this assertion
    val goneDir = java.nio.file.Files.createTempDirectory("graft_lease_gone")
    corp.limit(3).write.mode("overwrite").parquet(goneDir.toString)
    val doomed = spark.read.parquet(goneDir.toString)
      .select("vec_id", "embedding")
    val listing = java.nio.file.Files.list(goneDir)
    try listing.forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally listing.close()
    // the corpus really is doomed: any action on it fails
    an[Exception] should be thrownBy doomed.count()
    val ffex = intercept[IllegalStateException] {
      Similarity.ivfPqBuild(doomed, "embedding", path, nCells = 0, m = 16,
        ksub = 16) // auto-sized cells: the count WOULD run
    }
    ffex.getMessage should include("already leased by another writer")
  }

  test("writer lease is HELD by appends, live: a maintain/delete arriving " +
    "while an append's write is in flight refuses at acquisition — the " +
    "check-then-write window (in-flight rows silently swapped away by a " +
    "mutation's staging read) is structurally closed — and the appended " +
    "rows land intact") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corp = emb.filter($"vec_id" >= 5).select("vec_id", "embedding")
      .localCheckpoint(true)
    val newRows = emb.filter($"vec_id" < 2)
      .select(($"vec_id" + 80000L).as("vec_id"), $"embedding")
      .localCheckpoint(true)
    val path = java.nio.file.Files
      .createTempDirectory("graft_lease_hold").toString
    Similarity.ivfPqBuild(corp, "embedding", path, nCells = 2,
      m = 16, ksub = 16)
    AppendLeaseGate.reset() // fresh latches per run (same-JVM re-runs)
    // the appended batch parks its one write task on a gate: the append
    // is mid-write — lease acquired, rows NOT yet committed — exactly
    // the in-flight state whose rows a concurrent mutation's staging
    // listing used to miss and whose swap then dropped them
    val gated = org.apache.spark.sql.functions.udf { (id: Long) =>
      AppendLeaseGate.entered.countDown()
      AppendLeaseGate.release.await(120,
        java.util.concurrent.TimeUnit.SECONDS)
      id
    }
    val slowRows = newRows.repartition(1)
      .select(gated($"vec_id").as("vec_id"), $"embedding")
    val appendErr =
      new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val appender = new Thread(() => {
      try Similarity.ivfPqAppend(slowRows, "embedding", path)
      catch { case t: Throwable => appendErr.set(t) }
    })
    appender.start()
    try {
      AppendLeaseGate.entered.await(120,
        java.util.concurrent.TimeUnit.SECONDS) shouldBe true
      // mid-append the lease is visibly held...
      java.nio.file.Files.exists(
        java.nio.file.Paths.get(path, ".mutating")) shouldBe true
      // ...so every mutation path refuses AT ACQUISITION, before any
      // staging read could list a snapshot missing the in-flight rows
      val mex = intercept[IllegalStateException] {
        Similarity.ivfPqMaintain(spark, path, "embedding",
          maxSkew = 1e9, maxGrowth = 1.0)
      }
      mex.getMessage should include("already leased by another writer")
      // the refusal QUOTES the stamped holder payload — which op, since
      // when (with age), from which JVM — so the prescribed recovery
      // ("confirm no writer is running") has something to confirm WITH
      mex.getMessage should include("held by ivfPqAppend since")
      mex.getMessage should include("(age ")
      mex.getMessage should include(" pid ")
      val dex = intercept[IllegalStateException] {
        Similarity.indexDelete(spark, path,
          corp.select("vec_id").limit(1), idCol = "vec_id")
      }
      dex.getMessage should include("already leased by another writer")
      // an overwrite BUILD racing the live append refuses at acquisition
      // too: it would replace data/ while the append's write is in
      // flight, silently dropping the appended rows after their fence
      // advanced — the last unserialized writer pair, closed r20
      val bex = intercept[IllegalStateException] {
        Similarity.ivfPqBuild(corp, "embedding", path, nCells = 2,
          m = 16, ksub = 16)
      }
      bex.getMessage should include("already leased by another writer")
      bex.getMessage should include("held by ivfPqAppend since")
    } finally {
      AppendLeaseGate.release.countDown()
      appender.join(240000)
    }
    appendErr.get() shouldBe null
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, ".mutating")) shouldBe false
    spark.read.parquet(s"$path/data")
      .filter($"vec_id" >= 80000L).count() shouldBe 2L
    // the same maintain, run after the append released the lease,
    // rebuilds WITH the appended rows — nothing vanished
    Similarity.ivfPqMaintain(spark, path, "embedding",
      maxSkew = 1e9, maxGrowth = 1.0) shouldBe "rebuilt"
    spark.read.parquet(s"$path/data")
      .filter($"vec_id" >= 80000L).count() shouldBe 2L
    // a rebuild-from-source acquires the lease on the EXISTING root
    // (acquire-or-create), completes, and releases it — and REPLACES the
    // index from the external corpus by definition (a build is a
    // replace, not a merge: the appended rows are absent from `corp`,
    // so they are gone from the replaced index — serialized and
    // intentional, unlike the silent mid-append overwrite the lease
    // now refuses)
    Similarity.ivfPqBuild(corp, "embedding", path, nCells = 2,
      m = 16, ksub = 16)
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, ".mutating")) shouldBe false
    spark.read.parquet(s"$path/data").count() shouldBe corp.count()
  }

  test("writer lease on an object-store scheme refuses loudly — " +
    "create-exclusive is HEAD-then-PUT there, so two writers could both " +
    "acquire — and the documented opt-in downgrades it to advisory") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corp = emb.filter($"vec_id" >= 5).select("vec_id", "embedding")
    val local = java.nio.file.Files
      .createTempDirectory("graft_lease_s3a").toString
    Similarity.ivfPqBuild(corp, "embedding", local, nCells = 2,
      m = 16, ksub = 16)
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", classOf[S3ALikeFileSystem].getName)
    // EVERYTHING below runs under the finally that unsets the shim and
    // evicts its cached FileSystem instance — the shared hadoopConf must
    // not leak the S3ALikeFileSystem into later same-JVM tests that
    // touch an s3a: path
    try {
      val s3aPath = s"s3a:$local"
      val newRows = emb.filter($"vec_id" < 2)
        .select(($"vec_id" + 60000L).as("vec_id"), $"embedding")
      val aex = intercept[IllegalArgumentException] {
        Similarity.ivfPqAppend(newRows, "embedding", s3aPath)
      }
      aex.getMessage should include("allowNonExclusiveLease")
      val dex = intercept[IllegalArgumentException] {
        Similarity.indexDelete(spark, s3aPath,
          corp.select("vec_id").limit(1), idCol = "vec_id")
      }
      dex.getMessage should include("allowNonExclusiveLease")
      // overwrite BUILDS hold the same lease now (acquire-or-create), so
      // they share the same object-store refusal and the same opt-in
      val bex = intercept[IllegalArgumentException] {
        Similarity.ivfPqBuild(corp, "embedding", s3aPath, nCells = 2,
          m = 16, ksub = 16)
      }
      bex.getMessage should include("allowNonExclusiveLease")
      // nothing ran: the refusal is at acquisition, before any write
      spark.read.parquet(s"$local/data")
        .filter($"vec_id" >= 60000L).count() shouldBe 0L
      // the explicit opt-in (single-writer enforced externally) re-admits
      // writers through the same code path — and it takes effect against
      // the CACHED s3a FileSystem instance created by the refusal above,
      // because the lease reads it from a fresh session conf, not from the
      // conf frozen into the cached instance (the set-the-flag-as-
      // instructed-and-retry story must actually work)
      hc.setBoolean("graft.index.allowNonExclusiveLease", true)
      try {
        Similarity.ivfPqAppend(newRows, "embedding", s3aPath)
        spark.read.parquet(s"$local/data")
          .filter($"vec_id" >= 60000L).count() shouldBe 2L
      } finally hc.unset("graft.index.allowNonExclusiveLease")
    } finally {
      // evict the shim's cached FileSystem instance BEFORE unsetting the
      // impl (close() removes it from the cache; the cache ignores the
      // impl key on lookup, so unsetting alone would leave the instance
      // live for any later s3a: touch)
      try org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("s3a:///"), hc).close()
      catch { case _: Exception => () }
      hc.unset("fs.s3a.impl")
    }
  }

  test("mutating a nonexistent index refuses loudly WITHOUT littering the " +
    "path: the lease marker must not mkdirs a typo'd root as a side " +
    "effect") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val newRows = emb.filter($"vec_id" < 2).select("vec_id", "embedding")
    val parent = java.nio.file.Files
      .createTempDirectory("graft_lease_typo").toString
    val typo = s"$parent/no/such/index"
    val aex = intercept[IllegalArgumentException] {
      Similarity.ivfPqAppend(newRows, "embedding", typo)
    }
    aex.getMessage should include(s"no IVF-PQ index at $typo")
    // the delete's layout check refuses the same way — also loudly, also
    // without writing
    val dex = intercept[IllegalArgumentException] {
      Similarity.indexDelete(spark, typo,
        newRows.select("vec_id"), idCol = "vec_id")
    }
    dex.getMessage should include(s"no IVF-PQ index at $typo")
    // the refusals wrote NOTHING — 'absent' stayed absent
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(parent, "no")) shouldBe false
  }

  test("generation marker: rebuilds flip it (a probe planned against the " +
    "old generation fails loudly), deletes and appends do not; torn " +
    "calibration files parse as uncalibrated instead of installing " +
    "truncated widths") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corp = emb.filter($"vec_id" >= 5).select("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("graft_gen").toString
    Similarity.ivfPqBuild(corp, "embedding", path, nCells = 8,
      m = 16, ksub = 16)
    val g0 = Similarity.readGeneration(spark, path)
    g0 should not be empty
    // appends and deletes keep the standing model valid: no flip
    Similarity.ivfPqAppend(emb.filter($"vec_id" < 2)
      .select(($"vec_id" + 90000L).as("vec_id"), $"embedding"),
      "embedding", path)
    Similarity.readGeneration(spark, path) shouldBe g0
    Similarity.indexDelete(spark, path,
      corp.select("vec_id").limit(3), idCol = "vec_id")
    Similarity.readGeneration(spark, path) shouldBe g0
    // a rebuild (overwrite build here; stagedRebuild shares the write)
    // flips it...
    Similarity.ivfPqBuild(corp, "embedding", path, nCells = 8,
      m = 16, ksub = 16)
    val g1 = Similarity.readGeneration(spark, path)
    g1 should not be empty
    g1 should not be g0
    // ...and the post-plan guard the probes run (after quantizer load +
    // data listing) fails LOUDLY against a pre-rebuild snapshot — the
    // exact completed-swap-inside-the-planning-gap race, pinned at the
    // guard level because the gap itself is sub-millisecond
    val ex = intercept[IllegalStateException] {
      Similarity.requireGenerationUnchanged(spark, path, g0)
    }
    ex.getMessage should include("rebuilt while this probe was being planned")
    // the settled probe path (matching generations) stays green
    val qs = emb.filter($"vec_id" < 2)
      .select($"vec_id".as("query_id"), $"embedding")
    Similarity.ivfPqProbeTopK(spark, path, qs, "embedding", "vec_id",
      "query_id", k = 3, nProbe = 8).count() should be > 0L

    // torn-write protection on the calibration artifact: a truncated
    // pqcal.json (digits torn to a smaller parseable number, sentinel
    // lost) must read as UNCALIBRATED, never as the torn widths
    Similarity.ivfPqCalibrate(spark, path, "embedding", "vec_id",
      target = 0.8, k = 5, sampleQueries = 16)
    Similarity.calibratedPqWidths(spark, path) should not be empty
    val calPath = java.nio.file.Paths.get(path, "pqcal.json")
    val full = new String(java.nio.file.Files.readAllBytes(calPath), "UTF-8")
    val torn = full.substring(0, full.indexOf("\"target\""))
    java.nio.file.Files.write(calPath, torn.getBytes("UTF-8"))
    Similarity.calibratedPqWidths(spark, path) shouldBe empty

    // GENERATION STAMP: a calibration racing a rebuild can land its file
    // AFTER the rebuild's invalidating delete (calibrators are readers
    // and hold no lease) — replay that outcome by restoring the
    // pre-rebuild calibration verbatim over the rebuilt index: the stamp
    // no longer matches and the widths read as UNCALIBRATED instead of
    // silently governing the refitted model
    Similarity.ivfPqBuild(corp, "embedding", path, nCells = 8,
      m = 16, ksub = 16) // refit: new generation
    java.nio.file.Files.write(calPath, full.getBytes("UTF-8"))
    Similarity.calibratedPqWidths(spark, path) shouldBe empty
    // recalibrating against the CURRENT generation restores the defaults
    Similarity.ivfPqCalibrate(spark, path, "embedding", "vec_id",
      target = 0.8, k = 5, sampleQueries = 16)
    Similarity.calibratedPqWidths(spark, path) should not be empty
  }

  test("retired index layouts (flat-PQ codes/ + vectors/, plain-IVF " +
    "data/ + centroids/ without codebooks/) are refused by every entry " +
    "point with an error naming the path, before any relation is read " +
    "or written") {
    implicit val sql = spark.sqlContext
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val rows = emb.filter($"vec_id" < 2).select("vec_id", "embedding")
    val qs = rows.select($"vec_id".as("query_id"), $"embedding")
    // every planted relation file is garbage: an attempt to READ one
    // fails with a parquet error, never with the layout refusal asserted
    def plant(rels: String*): String = {
      val root = java.nio.file.Files.createTempDirectory("graft_retired")
      rels.foreach { r =>
        val d = java.nio.file.Files.createDirectories(root.resolve(r))
        java.nio.file.Files.write(d.resolve("part-00000.parquet"),
          Array[Byte](1, 2, 3))
      }
      root.toString
    }
    // every path with its size and mtime: a lease marker, fence file or
    // relation write — even one created and deleted again — shows here
    def snapshot(root: String): Seq[(String, Long, Long)] = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try w.iterator().asScala.map(p => (p.toString,
          java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis)).toSeq.sorted
      finally w.close()
    }
    val flatPq = plant("codes", "vectors/__vb=0", "codebooks", "meta")
    val plainIvf = plant("data/__cell=0", "centroids")
    for (root <- Seq(flatPq, plainIvf)) {
      val before = snapshot(root)
      def refused(f: => Any): Unit =
        intercept[IllegalArgumentException](f).getMessage should include(
          s"no IVF-PQ index at $root")
      refused(Similarity.ivfPqProbeTopK(spark, root, qs, "embedding",
        "vec_id", "query_id", k = 3))
      refused(Similarity.ivfPqAppend(rows, "embedding", root))
      refused(Similarity.indexMaintain(spark, root, "embedding",
        idCol = "vec_id"))
      refused(Similarity.indexDelete(spark, root, rows.select("vec_id"),
        idCol = "vec_id"))
      val mem = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Double])]
      val q = graft.streaming.StreamOps.annAppendSink(
        mem.toDF.toDF("vec_id", "embedding"), "embedding", root)()
      try {
        mem.addData((1L, Seq.fill(64)(0.5)))
        intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q.processAllAvailable()
        }.getMessage should include(s"no IVF-PQ index at $root")
      } finally q.stop()
      snapshot(root) shouldBe before
    }
  }

  test("probe reads of the listed cell directories never silently scan " +
    "the whole tree: a listed directory that is missing throws, and only " +
    "a drained (file-less) subset falls back, returning zero rows") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corp = emb.filter($"vec_id" >= 5).select("vec_id", "embedding")
    val path = java.nio.file.Files
      .createTempDirectory("graft_partdirs").toString
    Similarity.ivfPqBuild(corp, "embedding", path, nCells = 4, m = 16,
      ksub = 16)
    val data = s"$path/data"
    val cellDirs = new java.io.File(data).listFiles()
      .filter(_.getName.startsWith("__cell=")).sortBy(_.getName)
    cellDirs.length should be > 1
    // a listed directory that vanished (a concurrent swap, a listing
    // race) is an error — alone or next to a present one
    val gone = s"$data/__cell=999"
    an[org.apache.spark.sql.AnalysisException] should be thrownBy
      Similarity.readPartitionDirs(spark, data, Seq(gone))
    an[org.apache.spark.sql.AnalysisException] should be thrownBy
      Similarity.readPartitionDirs(spark, data,
        Seq(cellDirs(0).toString, gone))
    // a drained subset: the directory stands, its files are gone — the
    // fallback reads the tree, and the caller's cell filter prunes it to
    // the same empty directory
    val drained = cellDirs(0)
    val cell = drained.getName.stripPrefix("__cell=").toInt
    drained.listFiles().foreach(_.delete())
    spark.catalog.refreshByPath(data)
    Similarity.readPartitionDirs(spark, data, Seq(drained.toString))
      .filter($"__cell" === cell).count() shouldBe 0L
  }

  test("PQ calibration applies the one-sided finite-sample margin: a " +
    "larger confidence z never narrows the chosen shortlist, and the " +
    "persisted on-sample recall meets the margin-adjusted target") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corp = emb.filter($"vec_id" >= 5).select("vec_id", "embedding")
    val target = 0.7
    val ipq = java.nio.file.Files
      .createTempDirectory("graft_ipqmargin").toString
    Similarity.ivfPqBuild(corp, "embedding", ipq, nCells = 8, m = 16,
      ksub = 16)
    val (np0, sf0w) = Similarity.ivfPqCalibrate(spark, ipq, "embedding",
      "vec_id", target, k = 5, sampleQueries = 24, confidenceZ = 0.0,
      maxShortlistFactor = 256)
    val (npz, sfz) = Similarity.ivfPqCalibrate(spark, ipq, "embedding",
      "vec_id", target, k = 5, sampleQueries = 24, confidenceZ = 3.0,
      maxShortlistFactor = 256)
    // more confidence never buys LESS work in the dominant (probe) axis,
    // and at equal probes never a narrower shortlist
    npz should be >= np0
    if (npz == np0) sfz should be >= sf0w
    // the z=3 calibration's persisted measurement clears the RAW target
    // with room (the margin's whole point: on-sample meets
    // target + z*sqrt(t(1-t)/nQ), so external batches land AT or above
    // the stated target instead of distributed around it)
    val text = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ipq, "pqcal.json")), "UTF-8")
    val measured = """"measured_recall"\s*:\s*([0-9.]+)""".r
      .findFirstMatchIn(text).get.group(1).toDouble
    val nQ = """"sample_queries"\s*:\s*(\d+)""".r
      .findFirstMatchIn(text).get.group(1).toInt
    measured should be >= math.min(1.0,
      target + 3.0 * math.sqrt(target * (1 - target) / nQ)) - 1e-9
  }
}

/** Gate for the live append-holds-lease race: the appended batch's one
  * write task parks here, freezing the append mid-write (lease held,
  * rows uncommitted) while the test drives mutations against it.
  * `reset()` re-arms the latches so a same-JVM re-run of the spec
  * (testQuick, a retried suite without fork) parks again instead of
  * sailing through spent latches and asserting against a completed
  * append. */
private[graft] object AppendLeaseGate {
  @volatile var entered = new java.util.concurrent.CountDownLatch(1)
  @volatile var release = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = {
    entered = new java.util.concurrent.CountDownLatch(1)
    release = new java.util.concurrent.CountDownLatch(1)
  }
}
