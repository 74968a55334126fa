package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, transform, udf}

import graft.operators.Similarity

/** Probe planning of a persisted IVF-PQ index: the per-generation model
  * handle (never served across a rebuild, an append or a missing
  * generation marker), the driver-side cell ranking (identical to the
  * Spark-side one), the single evaluation of the query batch, and a warm
  * probe's job-free construction. */
class IvfPqProbePlanSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
  private lazy val corp =
    emb.filter($"vec_id" >= 5).select("vec_id", "embedding")

  /** A local (driver-side) query batch: it collects without a job. */
  private def localQueries(n: Int): DataFrame =
    emb.filter($"vec_id" < n).select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toSeq.toDF("query_id", "embedding")

  private def build(path: String, cells: Int,
                    rows: DataFrame = corp): Unit =
    Similarity.ivfPqBuild(rows, "embedding", path, nCells = cells, m = 16,
      ksub = 16)

  /** All cells probed, a shortlist covering the corpus: exact top-k. */
  private def fullProbe(path: String, qs: DataFrame): Set[(Long, Long, Double)] =
    Similarity.ivfPqProbeTopK(spark, path, qs, "embedding", "vec_id",
        "query_id", k = 5, nProbe = 999, shortlistFactor = 128)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet

  private def brute(rows: DataFrame, qs: DataFrame): Set[(Long, Long, Double)] =
    Similarity.bruteForceTopK(rows, qs, "embedding", "vec_id", "query_id",
        k = 5)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet

  private def tempIndex(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  test("an overwrite rebuild with a different cell count is never served " +
    "the previous generation's centroids") {
    val path = tempIndex("graft_handle_rebuild")
    val qs = localQueries(3)
    val exact = brute(corp, qs)
    build(path, 4)
    fullProbe(path, qs) shouldBe exact
    fullProbe(path, qs) shouldBe exact // served from the stored handle
    build(path, 16)
    // a stale 4-cell quantizer would probe cells 0-3 of 16 and miss rows
    fullProbe(path, qs) shouldBe exact
  }

  test("a probe after ivfPqAppend on a warm index sees the appended rows") {
    val path = tempIndex("graft_handle_append")
    val base = corp.filter($"vec_id" % 3 =!= 0)
    val extra = corp.filter($"vec_id" % 3 === 0)
    val qs = localQueries(3)
    build(path, 8, base)
    fullProbe(path, qs) shouldBe brute(base, qs)
    Similarity.ivfPqAppend(extra, "embedding", path)
    val after = fullProbe(path, qs)
    after shouldBe brute(corp, qs)
    after.map(_._2).exists(id => id % 3 == 0) shouldBe true
  }

  test("an index without a generation marker is read afresh on every " +
    "probe") {
    val path = tempIndex("graft_handle_legacy")
    val qs = localQueries(3)
    val exact = brute(corp, qs)
    build(path, 4)
    java.nio.file.Files.delete(java.nio.file.Paths.get(path, ".generation"))
    fullProbe(path, qs) shouldBe exact
    // replace the model and files by hand, as a writer predating the
    // marker would: 16 cells where the first probe saw 4
    val other = tempIndex("graft_handle_legacy_src")
    build(other, 16)
    Seq("data", "centroids", "codebooks", "meta").foreach { rel =>
      val live = new java.io.File(path, rel)
      val gone = new java.io.File(path, s".$rel.replaced")
      live.renameTo(gone) shouldBe true
      new java.io.File(other, rel).renameTo(live) shouldBe true
      spark.catalog.refreshByPath(live.toString)
    }
    fullProbe(path, qs) shouldBe exact
  }

  test("reading listed cell directories with a known schema still throws " +
    "on a vanished directory and reads a drained one as zero rows") {
    val path = tempIndex("graft_handle_schema_read")
    build(path, 4)
    val data = s"$path/data"
    val schema = Some(spark.read.parquet(data).schema)
    val cellDirs = new java.io.File(data).listFiles()
      .filter(_.getName.startsWith("__cell=")).sortBy(_.getName)
    an[org.apache.spark.sql.AnalysisException] should be thrownBy
      Similarity.readPartitionDirs(spark, data,
        Seq(cellDirs(0).toString, s"$data/__cell=999"), schema)
    val drained = cellDirs(0)
    drained.listFiles().foreach(_.delete())
    spark.catalog.refreshByPath(data)
    Similarity.readPartitionDirs(spark, data, Seq(drained.toString), schema)
      .count() shouldBe 0L
  }

  test("driver-side probe cells equal Spark's withProbeCells, in order, " +
    "for narrow, mid, full and over-full widths") {
    val fitted = Similarity.fitCentroids(corp, "embedding", 8, 42L)
    // duplicated centroids tie on distance: the lower cell id ranks first
    val centroids = fitted ++ fitted.take(2)
    val nCells = centroids.length
    val rows = emb.filter($"vec_id" < 40)
      .select($"vec_id".as("qid"), $"embedding".as("__qvec"),
        lit(1.0).as("__qn"))
    // a null vector and a dimension mismatch: every distance is null
    val odd = Seq((-1L, null: Array[Float], 1.0), (-2L, Array(1f, 2f), 1.0))
      .toDF("qid", "__qvec", "__qn")
    val asFloat = rows.unionByName(odd)
    val asDouble = asFloat.withColumn("__qvec",
      transform(col("__qvec"), _.cast("double")))
    def byQuery(pairs: Seq[(Long, Int)]): Map[Long, Seq[Int]] =
      pairs.groupBy(_._1).map { case (q, ps) => q -> ps.map(_._2) }
    for (q <- Seq(asFloat, asDouble); p <- Seq(1, 3, nCells, nCells + 5)) {
      val sparkSide = Similarity.withProbeCells(q, centroids, p)
        .select("qid", "__cell").as[(Long, Int)].collect().toSeq
      val driverSide = Similarity.probeCellRows(q.collect(), centroids, p)
        .map(r => (r.getLong(0), r.getInt(3))).toSeq
      byQuery(driverSide) shouldBe byQuery(sparkSide)
      byQuery(driverSide).values.foreach(_.length shouldBe math.min(p, nCells))
    }
  }

  test("the query batch is evaluated exactly once per probe, so both legs " +
    "rank the same vectors") {
    val path = tempIndex("graft_handle_once")
    build(path, 8)
    val evals = spark.sparkContext.longAccumulator("query evaluations")
    val jitter = udf { (v: Seq[Float]) =>
      evals.add(1)
      v.map(_ * (1.0f + scala.util.Random.nextFloat() * 1e-3f))
    }.asNondeterministic()
    val qs = localQueries(3).withColumn("embedding", jitter(col("embedding")))
    val out = Similarity.ivfPqProbeTopK(spark, path, qs, "embedding",
        "vec_id", "query_id", k = 5, nProbe = 2, shortlistFactor = 4)
      .collect()
    out.length shouldBe 15
    evals.value shouldBe 3L
  }

  test("on an index of more than 32 cells a warm ivfPqAppend runs 2 jobs " +
    "and a warm indexDelete 8: data/ opens through the driver-side " +
    "listing, and one locate job finds the touched cells and the count") {
    val path = tempIndex("graft_handle_write_jobs")
    build(path, 64)
    new java.io.File(path, "data").listFiles()
      .count(_.getName.startsWith("__cell=")) should be > 32
    Similarity.ivfPqProbeTopK(spark, path, localQueries(3), "embedding",
      "vec_id", "query_id", k = 5, nProbe = 2, shortlistFactor = 4)
      .collect() // stores the generation's handle
    val extra = emb.filter($"vec_id" < 5).select("vec_id", "embedding")
    val jobs = JobTap.count(spark.sparkContext) { phase =>
      phase("append")(Similarity.ivfPqAppend(extra, "embedding", path))
      phase("delete")(Similarity.indexDelete(spark, path,
        Seq(5L, 6L, 7L).toDF("vec_id"), idCol = "vec_id")) shouldBe 3L
    }
    jobs shouldBe Map("append" -> 2, "delete" -> 8)
  }

  test("a warm probe's construction runs no Spark job") {
    val path = tempIndex("graft_handle_jobs")
    build(path, 8)
    val qs = localQueries(3)
    def probe(): DataFrame = Similarity.ivfPqProbeTopK(spark, path, qs,
      "embedding", "vec_id", "query_id", k = 5, nProbe = 2,
      shortlistFactor = 4)
    val jobs = JobTap.count(spark.sparkContext) { phase =>
      phase("cold")(probe().collect())
      val warm = phase("construct")(probe())
      phase("action")(warm.collect()).length shouldBe 15
    }
    jobs.getOrElse("cold", 0) should be > 0 // the tap sees planning jobs
    jobs.getOrElse("action", 0) should be > 0
    jobs.getOrElse("construct", 0) shouldBe 0
  }
}
