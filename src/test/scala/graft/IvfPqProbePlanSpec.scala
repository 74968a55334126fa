package graft

import org.apache.spark.sql.{DataFrame, Row}
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
      val rows = q.collect()
      val driverSide = Similarity.withCells(rows,
          rows.map(Similarity.probeCells(_, centroids, p)))
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
    "and a warm indexDelete 3: data/ opens through the driver-side " +
    "listing, one locate job finds the touched cells and the count, and " +
    "the staged write runs the other two") {
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
    jobs shouldBe Map("append" -> 2, "delete" -> 3)
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
    jobs.getOrElse("action", 0) shouldBe 0
    jobs.getOrElse("construct", 0) shouldBe 0
  }

  /** (query id, id, raw cosine bits, rank) of a probe's answer, sorted. */
  private def bits(df: DataFrame): Seq[(Long, Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getInt(3)))
      .toSeq.sorted

  test("the driver path returns the Spark path's rows bit for bit: narrow, " +
    "mid and over-full widths, shortlists shorter and longer than the " +
    "probed rows, k above the rows available, planted ties, a zero " +
    "vector, float and double vectors, a null query vector (its id null " +
    "or not); a null query or corpus id on a scored pair fails on both") {
    // planted ties: copies of six corpus vectors under fresh ids
    val dups = corp.filter($"vec_id" < 11)
      .select(($"vec_id" + 100000L).as("vec_id"), $"embedding")
    val zero = Seq((200000L, Array.fill(64)(0f))).toDF("vec_id", "embedding")
    val planted = corp.unionByName(dups).unionByName(zero)
    // a query on a planted vector: its top hits tie across two ids
    val qs = localQueries(3).unionByName(
      corp.filter($"vec_id" === 5L).select(lit(50L).as("query_id"),
        $"embedding")).as[(Long, Array[Float])].collect().toSeq
      .map { case (q, v) => (Option(q), v) }
      .:+((Option(99L), null: Array[Float]))
      .toDF("query_id", "embedding")
    def asDouble(df: DataFrame): DataFrame = df.withColumn("embedding",
      transform(col("embedding"), _.cast("double")))
    for ((rows, queries) <- Seq((planted, qs),
        (asDouble(planted), asDouble(qs)))) {
      val path = tempIndex("graft_driver_bits")
      build(path, 8, rows)
      for (nProbe <- Seq(1, 3, 8);
           (k, factor) <- Seq((5, 1), (5, 400), (600, 1))) {
        val plan = Similarity.probePlan(spark, path, queries, "embedding",
          "vec_id", "query_id", k, nProbe, factor)
        val (driver, onSpark) = (plan.onDriver, plan.onSpark)
        withClue(s"nProbe=$nProbe k=$k factor=$factor " +
            s"${rows.schema("embedding").dataType.simpleString}: ") {
          driver.schema shouldBe onSpark.schema
          val got = bits(driver)
          got shouldBe bits(onSpark)
          got should not be empty
          got.map(_._1).toSet should not contain 99L // null query vector
          got.map(_._2).toSet should not contain 200000L // zero vector
          // the planted tie: both ids at cosine 1, the lower id first
          got.filter(_._1 == 50L).sortBy(_._4).take(2)
            .map(r => (r._2, r._4)) shouldBe
            Seq((5L, 1), (100005L, 2))
        }
      }
      // a null query id is refused before either path runs: in a mixed
      // batch, in a one-query batch whose id is all null, and beside a
      // null vector
      def nullId(q: Long) = queries.filter(col("query_id") === q)
        .withColumn("query_id", lit(null).cast("long"))
      for (batch <- Seq(
          queries.filter(col("query_id") =!= 50L).unionByName(nullId(50L)),
          nullId(50L), nullId(99L)))
        (the[IllegalArgumentException] thrownBy Similarity.probePlan(spark,
          path, batch, "embedding", "vec_id", "query_id", k = 5, nProbe = 3,
          shortlistFactor = 4)).getMessage should include("non-null query_id")
    }
    // a scored corpus row with a null id: loud on both paths
    val path = tempIndex("graft_driver_null_id")
    build(path, 8, planted.unionByName(corp.filter($"vec_id" === 5L)
      .select(lit(null).cast("long").as("vec_id"), $"embedding")))
    nullIdFails(path, qs.filter(col("query_id") === 50L))
  }

  /** Both paths fail loudly on a null corpus id in a scored pair. */
  private def nullIdFails(path: String, queries: DataFrame): Unit = {
    val plan = Similarity.probePlan(spark, path, queries, "embedding",
      "vec_id", "query_id", k = 5, nProbe = 3, shortlistFactor = 4)
    for (run <- Seq[() => DataFrame](() => plan.onDriver, () => plan.onSpark))
      (the[Exception] thrownBy run().collect()).getMessage should
        include("NULL value appeared in non-nullable field")
  }

  test("a warm probe below the driver gate runs no Spark job, building " +
    "the answer or collecting it; the Spark entry point still runs its " +
    "action as jobs") {
    val path = tempIndex("graft_driver_jobs")
    build(path, 64)
    val qs = localQueries(16)
    def probe(): DataFrame = Similarity.ivfPqProbeTopK(spark, path, qs,
      "embedding", "vec_id", "query_id", k = 10, nProbe = 2,
      shortlistFactor = 16)
    probe().collect() // stores the generation's handle
    Similarity.probePlan(spark, path, qs, "embedding", "vec_id", "query_id",
      k = 10, nProbe = 2, shortlistFactor = 16).servedOnDriver shouldBe true
    var served, planned = Set.empty[Row]
    val jobs = JobTap.count(spark.sparkContext) { phase =>
      val warm = phase("construct")(probe())
      served = phase("action")(warm.collect()).toSet
      planned = phase("spark")(Similarity.probePlan(spark, path, qs,
        "embedding", "vec_id", "query_id", k = 10, nProbe = 2,
        shortlistFactor = 16).onSpark.collect()).toSet
    }
    served should not be empty
    served shouldBe planned
    jobs.getOrElse("construct", 0) shouldBe 0
    jobs.getOrElse("action", 0) shouldBe 0
    jobs.getOrElse("spark", 0) should be > 0
  }

  test("a probe none of whose probed cells has a directory answers empty " +
    "on the driver, with no job: the whole data/ tree is never opened") {
    val path = tempIndex("graft_driver_empty")
    build(path, 64)
    val qs = localQueries(1)
    def probe(): DataFrame = Similarity.ivfPqProbeTopK(spark, path, qs,
      "embedding", "vec_id", "query_id", k = 5, nProbe = 2,
      shortlistFactor = 4)
    probe().collect() should not be empty // stores the generation's handle
    val cells = Similarity.probePlan(spark, path, qs, "embedding", "vec_id",
      "query_id", k = 5, nProbe = 2, shortlistFactor = 4).cells
    cells should not be empty
    val victims = spark.read.parquet(s"$path/data")
      .filter($"__cell".isin(cells.toSeq: _*)).select("vec_id").as[Long]
      .collect().toSeq
    Similarity.indexDelete(spark, path, victims.toDF("vec_id"),
      idCol = "vec_id") shouldBe victims.size.toLong
    cells.foreach(c =>
      new java.io.File(path, s"data/__cell=$c").exists() shouldBe false)
    val jobs = JobTap.count(spark.sparkContext) { phase =>
      val warm = phase("construct")(probe())
      phase("action")(warm.collect()) shouldBe empty
    }
    jobs shouldBe Map.empty
  }
}
