package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Similarity
import graft.streaming.StreamOps

/** Streaming ingest into a persisted ANN index ([[StreamOps.annAppendSink]])
  * — the streaming form of `AnnIngestExample`'s ingest day: standing-model
  * appends per epoch, with the epoch+lineage fence that makes at-least-once
  * redelivery a no-op under ONE checkpoint lineage and a LOUD error under a
  * foreign one (including the epoch-0-vs-fence-0 case epoch ids alone
  * cannot distinguish). */
class StreamAnnIngestSpec extends SparkSpec {
  import spark.implicits._

  // deterministic diverse vectors (strictly positive, so no zero-vector
  // exclusions muddy the counts)
  private def vec(i: Long): Seq[Double] =
    Seq.tabulate(8)(d => math.abs(math.sin(i.toDouble * 31 + d)) + 0.1)

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("streaming ANN ingest: epochs append with the STANDING model; the " +
    "crash window between fence record and checkpoint commit redelivers " +
    "the epoch under the SAME lineage and is skipped whole; later epochs " +
    "land; probes retrieve the streamed rows exactly") {
    implicit val sql = spark.sqlContext
    val path = s"${tmp("graft_annstream")}/index"
    val cp = tmp("graft_annstream_cp")
    val base = (20L to 59L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    Similarity.ivfPqBuild(base, "embedding", path, nCells = 4, m = 4,
      ksub = 8)
    val batchA = Seq((100L, vec(100)), (101L, vec(101)))
    val epochs = ArrayBuffer[Long]()

    // epoch 0 appends and records the fence — then the injected crash
    // fires in the exact at-least-once window (after the fence record,
    // before the checkpoint commit), so the epoch WILL be redelivered
    @volatile var crash = true
    val mem1 = MemoryStream[(Long, Seq[Double])]
    val q1 = StreamOps.annAppendSink(mem1.toDF.toDF("vec_id", "embedding"),
      "embedding", path,
      checkpointLocation = Some(cp)) { e =>
      epochs += e
      if (crash) throw new RuntimeException("injected crash after fence")
    }
    try {
      mem1.addData(batchA: _*)
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
      }
    } finally q1.stop()
    spark.read.parquet(s"$path/data").count() shouldBe 42L // append landed
    epochs.toSeq shouldBe Seq(0L)
    crash = false

    // restart FROM THE SAME CHECKPOINT: Spark restores the query id, so
    // the fence sees the SAME lineage; the redelivered epoch 0 is
    // skipped whole (no duplicate vectors, callback not fired), and a
    // genuinely new epoch lands normally
    val q2 = StreamOps.annAppendSink(mem1.toDF.toDF("vec_id", "embedding"),
      "embedding", path,
      checkpointLocation = Some(cp))(epochs += _)
    try {
      q2.processAllAvailable()
      spark.read.parquet(s"$path/data").count() shouldBe 42L // no dup
      epochs.toSeq shouldBe Seq(0L)
      mem1.addData((102L, vec(102)))
      q2.processAllAvailable()
    } finally q2.stop()
    spark.read.parquet(s"$path/data").count() shouldBe 43L
    epochs.toSeq shouldBe Seq(0L, 1L)
    // streamed rows were encoded with the STANDING model: an exhaustive
    // probe retrieves each streamed row at rank 1, cosine exactly 1
    val queries = Seq((100L, vec(100)), (102L, vec(102)))
      .toDF("query_id", "embedding")
    val top = Similarity.ivfPqProbeTopK(spark, path, queries, "embedding",
        "vec_id", "query_id", k = 1, nProbe = 4, shortlistFactor = 64)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    top shouldBe Set((100L, 100L, 1.0), (102L, 102L, 1.0))

    // LINEAGE GUARD: a foreign (uncheckpointed) query hits the lineage
    // line first — loud, whatever its epoch arithmetic says
    val memL = MemoryStream[(Long, Seq[Double])]
    val qL = StreamOps.annAppendSink(memL.toDF.toDF("vec_id", "embedding"),
      "embedding", path)()
    try {
      memL.addData((103L, vec(103)))
      val lex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        qL.processAllAvailable()
      }
      lex.getMessage should include("checkpoint lineage")
    } finally qL.stop()
    spark.read.parquet(s"$path/data").count() shouldBe 43L // untouched

    // epoch-arithmetic leg, reachable only through a LEGACY (no-lineage)
    // fence: epoch 0 below the recorded 5 fails loudly
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, ".ingest_epoch"),
      "5\n5".getBytes("UTF-8"))
    val memB = MemoryStream[(Long, Seq[Double])]
    val qB = StreamOps.annAppendSink(memB.toDF.toDF("vec_id", "embedding"),
      "embedding", path)()
    try {
      memB.addData((105L, vec(105)))
      val bex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        qB.processAllAvailable()
      }
      bex.getMessage should include("below the recorded fence")
    } finally qB.stop()
    spark.read.parquet(s"$path/data").count() shouldBe 43L // untouched

    // torn/corrupt fences fail loudly with the recovery step named —
    // garbage, a 3-line truncation of the 4-line format, and a 4-line
    // body whose repeated halves disagree are all unreadable
    Seq("garbage", "1\nabc-lineage\n1", "1\nabc\n1\nxyz").foreach { body =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, ".ingest_epoch"),
        body.getBytes("UTF-8"))
      val memC = MemoryStream[(Long, Seq[Double])]
      val qC = StreamOps.annAppendSink(memC.toDF.toDF("vec_id", "embedding"),
        "embedding", path)()
      try {
        memC.addData((104L, vec(104)))
        val cex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          qC.processAllAvailable()
        }
        cex.getMessage should include("unreadable ingest fence")
      } finally qC.stop()
    }

    // an unbuilt path refuses loudly, naming it
    val junk = tmp("graft_annstream_junk")
    val mem3 = MemoryStream[(Long, Seq[Double])]
    val q3 = StreamOps.annAppendSink(mem3.toDF.toDF("vec_id", "embedding"),
      "embedding", junk)()
    try {
      mem3.addData((1L, vec(1)))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q3.processAllAvailable()
      }
      ex.getMessage should include(s"no IVF-PQ index at $junk")
    } finally q3.stop()
  }

  test("lineage guard closes the epoch-0 hole: a FRESH checkpoint lineage " +
    "whose first batch arrives while the fence records epoch 0 fails " +
    "LOUDLY instead of silently dropping genuinely new rows as a " +
    "'redelivery'") {
    implicit val sql = spark.sqlContext
    val path = s"${tmp("graft_annstream_l0")}/index"
    val base = (20L to 59L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    Similarity.ivfPqBuild(base, "embedding", path, nCells = 4, m = 4,
      ksub = 8)
    // owner lineage appends epoch 0 — fence now (0, owner-id)
    val mem1 = MemoryStream[(Long, Seq[Double])]
    val q1 = StreamOps.annAppendSink(mem1.toDF.toDF("vec_id", "embedding"),
      "embedding", path)()
    try { mem1.addData((100L, vec(100))); q1.processAllAvailable() }
    finally q1.stop()
    spark.read.parquet(s"$path/data").count() shouldBe 41L
    // a NEW uncheckpointed query (fresh lineage) delivers ITS epoch 0 —
    // genuinely new rows that the epoch-only fence would have silently
    // skipped (0 == 0); the lineage line makes it loud instead
    val mem2 = MemoryStream[(Long, Seq[Double])]
    val q2 = StreamOps.annAppendSink(mem2.toDF.toDF("vec_id", "embedding"),
      "embedding", path)()
    try {
      mem2.addData((200L, vec(200)))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      ex.getMessage should include("checkpoint lineage")
    } finally q2.stop()
    spark.read.parquet(s"$path/data").count() shouldBe 41L // untouched

    // LEGACY two-line fence (pre-lineage format): carries no lineage, so
    // equal epoch is AMBIGUOUS (redelivery to skip vs foreign batch to
    // append) — refused LOUDLY with both recoveries named, never the
    // silent skip the pre-lineage rules allowed
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, ".ingest_epoch"),
      "0\n0".getBytes("UTF-8"))
    val mem3 = MemoryStream[(Long, Seq[Double])]
    val q3 = StreamOps.annAppendSink(mem3.toDF.toDF("vec_id", "embedding"),
      "embedding", path)()
    try {
      mem3.addData((300L, vec(300)))
      val lex3 = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q3.processAllAvailable()
      }
      lex3.getMessage should include("legacy (pre-lineage) ingest fence")
      lex3.getMessage should include("migrate the fence")
    } finally q3.stop()
    spark.read.parquet(s"$path/data").count() shouldBe 41L // untouched

    // RECOVERY A (fresh lineage): delete the fence; the batch is
    // redelivered on the next start and appends under the new lineage,
    // which the advance records in the 4-line format
    java.nio.file.Files.delete(java.nio.file.Paths.get(path, ".ingest_epoch"))
    val mem4 = MemoryStream[(Long, Seq[Double])]
    val q4 = StreamOps.annAppendSink(mem4.toDF.toDF("vec_id", "embedding"),
      "embedding", path)()
    try { mem4.addData((300L, vec(300))); q4.processAllAvailable() }
    finally q4.stop()
    spark.read.parquet(s"$path/data").count() shouldBe 42L
    val fenceA = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, ".ingest_epoch")), "UTF-8")
    fenceA.trim.linesIterator.size shouldBe 4 // lineage format
    fenceA should include(q4.id.toString)

    // RECOVERY B (redelivery/migration), staged as a REAL redelivery:
    // a checkpointed stream appends epoch 0 and records the fence, then
    // crashes before the checkpoint commit — and an operator downgrade
    // leaves the fence in the legacy format. The restart redelivers
    // epoch 0 against legacy last=0: refused (it cannot prove the rows
    // are already there). Migrating the fence to the 4-line format with
    // this lineage turns the redelivery into the normal same-lineage
    // skip — no duplicate vectors — and the stream resumes.
    java.nio.file.Files.delete(java.nio.file.Paths.get(path, ".ingest_epoch"))
    val cpB = tmp("graft_annstream_l0_cpB")
    @volatile var crashB = true
    val mem5 = MemoryStream[(Long, Seq[Double])]
    def sinkB() = StreamOps.annAppendSink(
      mem5.toDF.toDF("vec_id", "embedding"), "embedding", path,
      checkpointLocation = Some(cpB)) { _ =>
      if (crashB) throw new RuntimeException("injected crash after fence")
    }
    val q5 = sinkB()
    try {
      mem5.addData((301L, vec(301)))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q5.processAllAvailable()
      }
    } finally q5.stop()
    crashB = false
    spark.read.parquet(s"$path/data").count() shouldBe 43L // append landed
    java.nio.file.Files.write( // the operator-downgraded legacy fence
      java.nio.file.Paths.get(path, ".ingest_epoch"),
      "0\n0".getBytes("UTF-8"))
    val q5b = sinkB() // same checkpoint -> same lineage; redelivers epoch 0
    try {
      val lexB = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q5b.processAllAvailable()
      }
      lexB.getMessage should include("legacy (pre-lineage) ingest fence")
      // the refusal names the one-call migration helper, not a hand-edit
      lexB.getMessage should include("migrateIngestFence")
    } finally q5b.stop()
    spark.read.parquet(s"$path/data").count() shouldBe 43L // no duplicate
    // migrate exactly as the message instructs — the validated helper,
    // with the lineage the refusal quoted
    StreamOps.migrateIngestFence(spark, s"$path/.ingest_epoch",
      q5b.id.toString)
    val fenceM = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, ".ingest_epoch")), "UTF-8")
    fenceM.trim shouldBe s"0\n${q5b.id}\n0\n${q5b.id}" // epoch preserved
    // re-running the migration refuses: the fence already carries a
    // lineage, and overwriting a live attribution re-opens the ambiguity
    val migTwice = intercept[IllegalStateException] {
      StreamOps.migrateIngestFence(spark, s"$path/.ingest_epoch",
        q5b.id.toString)
    }
    migTwice.getMessage should include("already carries lineage")
    // a missing fence is not a migration case — refused with the
    // nothing-to-recover story, and NOT created as a side effect
    val migMissing = intercept[IllegalArgumentException] {
      StreamOps.migrateIngestFence(spark,
        s"$path/.no_such_fence", q5b.id.toString)
    }
    migMissing.getMessage should include("no fence at")
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(path, ".no_such_fence")) shouldBe false
    // a torn fence is the unreadable-fence recovery's case, not a
    // migration: refused with that story, content untouched
    val torn = java.nio.file.Paths.get(path, ".torn_fence_probe")
    java.nio.file.Files.write(torn, "7".getBytes("UTF-8"))
    val migTorn = intercept[IllegalStateException] {
      StreamOps.migrateIngestFence(spark, torn.toString, q5b.id.toString)
    }
    migTorn.getMessage should include("unreadable ingest fence")
    new String(java.nio.file.Files.readAllBytes(torn),
      "UTF-8") shouldBe "7"
    java.nio.file.Files.delete(torn)
    val q5c = sinkB()
    try {
      q5c.processAllAvailable() // redelivered epoch 0: same-lineage skip
      spark.read.parquet(s"$path/data").count() shouldBe 43L // still no dup
      mem5.addData((302L, vec(302)))
      q5c.processAllAvailable() // epoch 1 > 0: normal advance
    } finally q5c.stop()
    spark.read.parquet(s"$path/data").count() shouldBe 44L

    // legacy fence with epoch STRICTLY above it is unambiguous (append
    // is correct under either lineage): appends and upgrades the fence
    // to the lineage format in one advance
    java.nio.file.Files.write(
      java.nio.file.Paths.get(path, ".ingest_epoch"),
      "0\n0".getBytes("UTF-8"))
    val q5d = sinkB()
    try {
      mem5.addData((303L, vec(303)))
      q5d.processAllAvailable() // epoch 2 > legacy 0
    } finally q5d.stop()
    spark.read.parquet(s"$path/data").count() shouldBe 45L
    val fenceB = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, ".ingest_epoch")), "UTF-8")
    fenceB.trim.linesIterator.size shouldBe 4 // upgraded to lineage format
    fenceB should include(q5d.id.toString)
  }

  test("strictFence refuses AT START on a filesystem without atomic " +
    "rename instead of silently downgrading exactly-once to " +
    "at-least-once; the default mode still runs there") {
    implicit val sql = spark.sqlContext
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.s3a.impl", classOf[S3ALikeFileSystem].getName)
    // the shim (and its cached FileSystem instance) must not leak into
    // later same-JVM tests that touch an s3a: path — evicted + unset in
    // the finally below
    try {
    val mem = MemoryStream[(Long, Seq[Double])]
    val ex = intercept[IllegalArgumentException] {
      StreamOps.annAppendSink(mem.toDF.toDF("vec_id", "embedding"),
        "embedding", "s3a:/graft/never/created",
        strictFence = true)()
    }
    ex.getMessage should include("no atomic rename")
    ex.getMessage should include("strictFence")
    // the INDEX location has its own start-time gate (appends hold the
    // .mutating lease, whose create-exclusive object stores lack) — a
    // separate knob from the fence's, named in the refusal so the
    // operator is not sent chasing strictFence/fencePath remedies that
    // cannot lift it
    val lex = intercept[IllegalArgumentException] {
      StreamOps.annAppendSink(mem.toDF.toDF("vec_id", "embedding"),
        "embedding", "s3a:/graft/never/created")()
    }
    lex.getMessage should include("allowNonExclusiveLease")
    lex.getMessage should include("fencePath/strictFence govern only")
    // with the lease opt-in acknowledged, the sink starts on an
    // s3a-hosted index (fence falls back to plain overwrite there)
    hc.setBoolean("graft.index.allowNonExclusiveLease", true)
    try {
      val localIdx = s"${tmp("graft_annstream_s3idx")}/index"
      Similarity.ivfPqBuild((20L to 39L).map(i => (i, vec(i)))
        .toDF("vec_id", "embedding"), "embedding", localIdx, nCells = 2,
        m = 4, ksub = 8)
      val memI = MemoryStream[(Long, Seq[Double])]
      val qI = StreamOps.annAppendSink(memI.toDF.toDF("vec_id", "embedding"),
        "embedding", s"s3a:$localIdx")()
      try { memI.addData((700L, vec(700))); qI.processAllAvailable() }
      finally qI.stop()
      spark.read.parquet(s"$localIdx/data").count() shouldBe 21L
    } finally hc.unset("graft.index.allowNonExclusiveLease")
    // strict mode on an atomic-rename filesystem starts and runs normally
    val path = s"${tmp("graft_annstream_strict")}/index"
    val base = (20L to 39L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    Similarity.ivfPqBuild(base, "embedding", path, nCells = 2,
      m = 4, ksub = 8)
    val memS = MemoryStream[(Long, Seq[Double])]
    val qS = StreamOps.annAppendSink(memS.toDF.toDF("vec_id", "embedding"),
      "embedding", path, strictFence = true)()
    try { memS.addData((500L, vec(500))); qS.processAllAvailable() }
    finally qS.stop()
    spark.read.parquet(s"$path/data").count() shouldBe 21L

    // fencePath relocates JUST the fence (the index-on-object-store,
    // fence-on-HDFS recipe): the fence lands at the given location and
    // nothing is written at the index root
    val path2 = s"${tmp("graft_annstream_fp")}/index"
    Similarity.ivfPqBuild(base, "embedding", path2, nCells = 2,
      m = 4, ksub = 8)
    val fence = s"${tmp("graft_annstream_fpf")}/my_fence"
    val memF = MemoryStream[(Long, Seq[Double])]
    val qF = StreamOps.annAppendSink(memF.toDF.toDF("vec_id", "embedding"),
      "embedding", path2, strictFence = true,
      fencePath = Some(fence))()
    try { memF.addData((600L, vec(600))); qF.processAllAvailable() }
    finally qF.stop()
    spark.read.parquet(s"$path2/data").count() shouldBe 21L
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(fence)) shouldBe true
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(path2, ".ingest_epoch")) shouldBe false
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(fence)), "UTF-8") should include(
      qF.id.toString)
    } finally {
      // evict the shim's cached instance BEFORE unsetting the impl (the
      // FileSystem cache ignores the impl key on lookup, so unsetting
      // alone leaves the instance live for any later s3a: touch)
      try org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("s3a:///"), hc).close()
      catch { case _: Exception => () }
      hc.unset("fs.s3a.impl")
    }
  }

  test("maintain interleaves with a LIVE stream's epochs: ingest, pause, " +
    "indexMaintain (rebuild triggered by growth), resume from the same " +
    "checkpoint — fence lineage still valid, probes exact over old and " +
    "new rows") {
    implicit val sql = spark.sqlContext
    val path = s"${tmp("graft_annstream_mnt")}/index"
    val cp = tmp("graft_annstream_mnt_cp")
    // tiny base so the streamed mass trips the growth gauge (> 4x)
    val base = (20L to 27L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    Similarity.ivfPqBuild(base, "embedding", path, nCells = 2,
      m = 4, ksub = 8)
    val mem = MemoryStream[(Long, Seq[Double])]
    def sink() = StreamOps.annAppendSink(
      mem.toDF.toDF("vec_id", "embedding"), "embedding", path,
      checkpointLocation = Some(cp))()
    // ingest day: two epochs land under the standing model
    val q1 = sink()
    try {
      mem.addData((100L to 119L).map(i => (i, vec(i))): _*)
      q1.processAllAvailable()
      mem.addData((120L to 139L).map(i => (i, vec(i))): _*)
      q1.processAllAvailable()
    } finally q1.stop() // PAUSE — maintenance owns the index now
    spark.read.parquet(s"$path/data").count() shouldBe 48L
    // nightly maintain on its own schedule: the 2-cell build is far
    // under autoCells' floor for the grown corpus, tripping maxGrowth —
    // a real staged REBUILD (fresh quantizer, swapped relations, new
    // generation marker), not a no-op gauge
    val (layout, decision) = Similarity.indexMaintain(spark, path,
      "embedding")
    layout shouldBe "ivf-pq"
    decision shouldBe "rebuilt"
    // RESUME from the same checkpoint: the rebuild swapped relations but
    // kept the fence — same lineage, so the stream continues without
    // reconciliation and its next epoch appends into the REBUILT index
    val q2 = sink()
    try { mem.addData((140L, vec(140))); q2.processAllAvailable() }
    finally q2.stop()
    spark.read.parquet(s"$path/data").count() shouldBe 49L
    // full-width probe = exact: every streamed row, pre- and
    // post-rebuild, is retrieved at rank 1 with cosine exactly 1
    val nCells = spark.read.parquet(s"$path/centroids").count().toInt
    val queries = Seq(100L, 139L, 140L).map(i => (i, vec(i)))
      .toDF("query_id", "embedding")
    val top = Similarity.ivfPqProbeTopK(spark, path, queries, "embedding",
        "vec_id", "query_id", k = 1, nProbe = nCells, shortlistFactor = 64)
      .select("query_id", "vec_id", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    top shouldBe Set((100L, 100L, 1.0), (139L, 139L, 1.0),
      (140L, 140L, 1.0))
  }

  test("an epoch refused by the writer lease (a maintain holds the index " +
    "mid-stream) fails LOUDLY, advances nothing, and is redelivered and " +
    "appended exactly once on restart after the lease clears — the retry " +
    "story the refusal message promises") {
    implicit val sql = spark.sqlContext
    val path = s"${tmp("graft_annstream_lease")}/index"
    val cp = tmp("graft_annstream_lease_cp")
    val base = (20L to 59L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    Similarity.ivfPqBuild(base, "embedding", path, nCells = 4,
      m = 4, ksub = 8)
    val mem = MemoryStream[(Long, Seq[Double])]
    def sink() = StreamOps.annAppendSink(
      mem.toDF.toDF("vec_id", "embedding"), "embedding", path,
      checkpointLocation = Some(cp))()
    // epoch 0 lands normally; fence records it
    val q1 = sink()
    try { mem.addData((400L, vec(400))); q1.processAllAvailable() }
    finally q1.stop()
    spark.read.parquet(s"$path/data").count() shouldBe 41L
    // a mutation (nightly maintain, as the stream would see it) holds
    // the lease when the next epoch arrives: the append refuses AT
    // ACQUISITION — no rows, no fence advance — and the failure
    // surfaces loudly through the query
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(path, ".mutating"))
    val q2 = sink()
    try {
      mem.addData((401L, vec(401)))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      ex.getMessage should include("already leased by another writer")
      ex.getMessage should include("redelivers the epoch")
    } finally q2.stop()
    spark.read.parquet(s"$path/data").count() shouldBe 41L // untouched
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, ".ingest_epoch")), "UTF-8")
      .trim.linesIterator.next() shouldBe "0" // fence did not advance
    // the mutation completes (lease released); the restart from the
    // SAME checkpoint redelivers the refused epoch, which appends
    // exactly once under the standing fence arithmetic
    java.nio.file.Files.delete(java.nio.file.Paths.get(path, ".mutating"))
    val q3 = sink()
    try {
      q3.processAllAvailable()
      spark.read.parquet(s"$path/data").count() shouldBe 42L // once
      mem.addData((402L, vec(402))) // and the stream is healthy again
      q3.processAllAvailable()
    } finally q3.stop()
    spark.read.parquet(s"$path/data").count() shouldBe 43L
    spark.read.parquet(s"$path/data")
      .filter($"vec_id" === 401L).count() shouldBe 1L // no duplicate
  }
}
