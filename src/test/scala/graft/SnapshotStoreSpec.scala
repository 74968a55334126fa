package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.core.DriverKeys
import graft.sinks.{SnapshotStore, UpsertConfig}

class SnapshotStoreSpec extends SparkSpec
    with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  // every test's store root is registered here and reclaimed after the
  // suite, so repeated runs don't accumulate tmp trees
  private val tempRoots = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  private def tempRoot(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tempRoots.synchronized(tempRoots += p)
    p.toString
  }

  override def afterAll(): Unit = {
    tempRoots.foreach { p =>
      try
        java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(q => java.nio.file.Files.deleteIfExists(q))
      catch { case _: java.io.IOException => () }
    }
    super.afterAll()
  }

  private val cfg = UpsertConfig(
    clock = Some(to_timestamp(lit("2026-01-01 00:00:00"))))

  test("empty store -> first upsert creates snapshot 0; merges accumulate; " +
    "re-applying a batch converges (at-least-once contract)") {
    val root = tempRoot("graft_snap")
    SnapshotStore.read(spark, root) shouldBe None

    val r0 = SnapshotStore.upsert(spark, root,
      Seq((1, "a"), (2, "b")).toDF("id", "value"), cfg)
    r0.written.count() shouldBe 2
    SnapshotStore.currentVersion(spark, root) shouldBe Some(0L)

    SnapshotStore.upsert(spark, root,
      Seq((2, "b2"), (3, "c")).toDF("id", "value"), cfg)
    SnapshotStore.currentVersion(spark, root) shouldBe Some(1L)
    val after = SnapshotStore.read(spark, root).get.orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    after shouldBe Array((1, "a"), (2, "b2"), (3, "c"))

    // idempotence: replay the same batch -> same content, new version
    SnapshotStore.upsert(spark, root,
      Seq((2, "b2"), (3, "c")).toDF("id", "value"), cfg)
    val replayed = SnapshotStore.read(spark, root).get.orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    replayed shouldBe after
    SnapshotStore.currentVersion(spark, root) shouldBe Some(2L)
  }

  test("time travel + vacuum: old versions readable until vacuumed, " +
    "committed version never removed") {
    val root = tempRoot("graft_snap3")
    SnapshotStore.upsert(spark, root, Seq((1, "a")).toDF("id", "value"), cfg)
    SnapshotStore.upsert(spark, root, Seq((1, "a2")).toDF("id", "value"), cfg)
    SnapshotStore.upsert(spark, root, Seq((2, "b")).toDF("id", "value"), cfg)
    SnapshotStore.readVersion(spark, root, 0).count() shouldBe 1
    SnapshotStore.vacuum(spark, root, keep = 1) shouldBe Seq(0L, 1L)
    SnapshotStore.currentVersion(spark, root) shouldBe Some(2L)
    SnapshotStore.read(spark, root).get.count() shouldBe 2
  }

  test("streaming foreachBatch upsert persists each epoch durably") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = tempRoot("graft_snap4")
    val mem = MemoryStream[(Int, String)]
    val q = graft.streaming.StreamOps.upsertSink(
      mem.toDF().toDF("id", "value")) { (batch, _) =>
        SnapshotStore.upsert(spark, root, batch, cfg); ()
      }
    try {
      mem.addData((1, "a"), (2, "b"))
      q.processAllAvailable()
      mem.addData((2, "b2"))
      q.processAllAvailable()
      SnapshotStore.read(spark, root).get.orderBy("id")
        .collect().map(r => (r.getInt(0), r.getString(1))) shouldBe
        Array((1, "a"), (2, "b2"))
    } finally q.stop()
  }

  test("reader never sees an uncommitted snapshot (orphan directories are inert)") {
    val root = tempRoot("graft_snap2")
    SnapshotStore.upsert(spark, root, Seq((1, "a")).toDF("id", "value"), cfg)
    // simulate a crashed writer: snapshot dir exists, pointer not moved
    Seq((99, "zz")).toDF("id", "value")
      .write.parquet(s"$root/snapshot=7")
    SnapshotStore.currentVersion(spark, root) shouldBe Some(0L)
    SnapshotStore.read(spark, root).get.count() shouldBe 1
    // vacuum reclaims the crashed writer's orphan, keeps the committed one
    SnapshotStore.vacuum(spark, root, keep = 1) shouldBe Seq(7L)
    SnapshotStore.read(spark, root).get.count() shouldBe 1
  }

  test("incremental rewrite: an upsert touching one key rewrites only that " +
    "key's bucket; untouched buckets stay byte-identical and are shared " +
    "via the manifest") {
    val root = tempRoot("graft_snap6")
    SnapshotStore.upsert(spark, root,
      (1 to 200).map(i => (i, s"v$i")).toDF("id", "value"), cfg, nBuckets = 16)

    def parquetBytes(dir: String): Map[String, Seq[Byte]] = {
      val base = java.nio.file.Paths.get(dir)
      val walk = java.nio.file.Files.walk(base)
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet"))
        .map(p => base.relativize(p).toString ->
          java.nio.file.Files.readAllBytes(p).toSeq)
        .toMap
      finally walk.close()
    }

    val before = parquetBytes(s"$root/snapshot=0")
    before.size should be >= 16 // all 16 buckets populated at v0

    SnapshotStore.upsert(spark, root, Seq((1, "updated")).toDF("id", "value"), cfg)

    // v0's files were not rewritten — the new manifest references them
    parquetBytes(s"$root/snapshot=0") shouldBe before
    // v1 holds exactly the one touched bucket
    val v1Buckets = new java.io.File(s"$root/snapshot=1").listFiles()
      .map(_.getName).filter(_.startsWith("__bucket="))
    v1Buckets.length shouldBe 1
    // and the merged content is right
    val rows = SnapshotStore.read(spark, root).get
      .collect().map(r => (r.getInt(0), r.getString(1))).toMap
    rows.size shouldBe 200
    rows(1) shouldBe "updated"
    rows(2) shouldBe "v2"
    // time travel to v0 still sees the pre-update value
    SnapshotStore.readVersion(spark, root, 0)
      .filter(col("id") === 1).head().getString(1) shouldBe "v1"
  }

  test("concurrent writer claim: the second writer targeting a version fails " +
    "instead of silently clobbering; vacuum reclaims a crashed claim") {
    val root = tempRoot("graft_snap7")
    SnapshotStore.upsert(spark, root, Seq((1, "a")).toDF("id", "value"), cfg)
    // a competing (or crashed) writer already claimed version 1
    new java.io.File(root, "claim=1").createNewFile() shouldBe true
    intercept[SnapshotStore.ConcurrentWriteException] {
      SnapshotStore.upsert(spark, root, Seq((2, "b")).toDF("id", "value"), cfg)
    }
    // committed state untouched by the failed writer
    SnapshotStore.currentVersion(spark, root) shouldBe Some(0L)
    SnapshotStore.read(spark, root).get.count() shouldBe 1
    // vacuum reaps the orphan claim; the next upsert then proceeds
    SnapshotStore.vacuum(spark, root, keep = 1)
    SnapshotStore.upsert(spark, root, Seq((2, "b")).toDF("id", "value"), cfg)
    SnapshotStore.read(spark, root).get.count() shouldBe 2
  }

  test("crashed FIRST writer (claim exists, nothing committed): vacuum " +
    "reclaims the wedge and the store becomes usable") {
    val root = tempRoot("graft_snap8")
    // simulate: claim placed, data half-written, no pointer
    new java.io.File(root, "claim=0").createNewFile() shouldBe true
    Seq((1, "half")).toDF("id", "value").write.parquet(s"$root/snapshot=0")
    intercept[SnapshotStore.ConcurrentWriteException] {
      SnapshotStore.upsert(spark, root, Seq((1, "a")).toDF("id", "value"), cfg)
    }
    SnapshotStore.vacuum(spark, root) shouldBe Seq(0L)
    SnapshotStore.upsert(spark, root, Seq((1, "a")).toDF("id", "value"), cfg)
    SnapshotStore.read(spark, root).get.count() shouldBe 1
  }

  test("writer crash BETWEEN bucket writes and manifest commit: readers " +
    "stay on the old version, a racing writer fails on the claim, and " +
    "vacuum reclaims the orphan so the retry lands cleanly") {
    val root = tempRoot("graft_snapA")
    SnapshotStore.upsert(spark, root,
      (1 to 100).map(i => (i, s"v$i")).toDF("id", "value"), cfg, nBuckets = 8)

    // Stage the exact crash point of the commit protocol: the writer has
    // (1) claimed version 1 and (2) written its rewritten-bucket parquet
    // under snapshot=1/__bucket=*, then died before writeManifest — so no
    // _MANIFEST and no pointer move. This is the largest-footprint crash
    // (full-size data on disk) the protocol must keep invisible.
    new java.io.File(root, "claim=1").createNewFile() shouldBe true
    Seq((1, "torn"), (2, "torn")).toDF("id", "value")
      .write.parquet(s"$root/snapshot=1/__bucket=3")
    Seq((3, "torn")).toDF("id", "value")
      .write.parquet(s"$root/snapshot=1/__bucket=5")

    // readers resolve the pointer -> still version 0, original content
    SnapshotStore.currentVersion(spark, root) shouldBe Some(0L)
    val seen = SnapshotStore.read(spark, root).get
      .collect().map(r => (r.getInt(0), r.getString(1))).toMap
    seen.size shouldBe 100
    seen(1) shouldBe "v1"

    // a new writer re-reads version 0 and targets 1 -> the dead writer's
    // claim makes it fail loudly instead of mixing output into the orphan
    intercept[SnapshotStore.ConcurrentWriteException] {
      SnapshotStore.upsert(spark, root, Seq((1, "update")).toDF("id", "value"), cfg)
    }

    // vacuum reaps the orphan data AND the stale claim...
    SnapshotStore.vacuum(spark, root, keep = 1) shouldBe Seq(1L)
    new java.io.File(s"$root/snapshot=1").exists() shouldBe false
    new java.io.File(s"$root/claim=1").exists() shouldBe false

    // ...after which the retry commits, sharing v0's untouched buckets
    SnapshotStore.upsert(spark, root, Seq((1, "update")).toDF("id", "value"), cfg)
    SnapshotStore.currentVersion(spark, root) shouldBe Some(1L)
    val after = SnapshotStore.read(spark, root).get
      .collect().map(r => (r.getInt(0), r.getString(1))).toMap
    after.size shouldBe 100
    after(1) shouldBe "update"
    after(2) shouldBe "v2"
  }

  test("discriminant type drift: an INT-keyed batch still lands in the " +
    "BIGINT-keyed store's bucket (no duplicate keys)") {
    val root = tempRoot("graft_snap9")
    SnapshotStore.upsert(spark, root,
      (1L to 50L).map(i => (i, s"v$i")).toDF("id", "value"), cfg)
    // same keys arrive typed INT: hash(5: INT) != hash(5L) — bucket
    // assignment must coerce to the stored type before hashing
    SnapshotStore.upsert(spark, root,
      Seq((5, "updated")).toDF("id", "value"), cfg)
    val after = SnapshotStore.read(spark, root).get
    val rows = after.filter(col("id") === 5).collect()
    rows.length shouldBe 1
    rows.head.getString(1) shouldBe "updated"
    after.count() shouldBe 50
    // the store schema must NOT silently widen: the batch conforms to the
    // stored type, so the manifest keeps BIGINT and the write hashes with it
    after.schema("id").dataType shouldBe org.apache.spark.sql.types.LongType
  }

  test("discriminant type drift, widening direction: a BIGINT-keyed batch " +
    "into an INT-keyed store neither loses unread rows nor widens the schema") {
    val root = tempRoot("graft_snap13")
    SnapshotStore.upsert(spark, root,
      (1 to 50).map(i => (i, s"v$i")).toDF("id", "value"), cfg)
    // batch typed BIGINT: without conforming, the merge's CaseWhen widens
    // id to BIGINT and the write would hash rows into buckets the touched
    // set never read, overriding those buckets' manifest entries and
    // dropping their unread rows
    SnapshotStore.upsert(spark, root,
      Seq((5L, "updated")).toDF("id", "value"), cfg)
    val after = SnapshotStore.read(spark, root).get
    after.count() shouldBe 50
    after.filter(col("id") === 5).head().getString(1) shouldBe "updated"
    after.schema("id").dataType shouldBe org.apache.spark.sql.types.IntegerType
  }

  test("vacuum after raising keep does not crash on previously-vacuumed " +
    "versions (manifest-less shells)") {
    val root = tempRoot("graft_snap10")
    val ids = Seq(1, 2, 3, 4)
    ids.foreach(i => SnapshotStore.upsert(spark, root,
      Seq((i, s"v$i")).toDF("id", "value"), cfg))
    SnapshotStore.vacuum(spark, root, keep = 1) shouldBe Seq(0L, 1L, 2L)
    // raising keep afterwards must not try to read the deleted manifests
    SnapshotStore.vacuum(spark, root, keep = 4) shouldBe Seq.empty
    SnapshotStore.read(spark, root).get.count() shouldBe 4
  }

  test("a committed version without a _MANIFEST is refused loudly by " +
    "read, upsert, delete and compact, and vacuum deletes none of its " +
    "files") {
    val root = tempRoot("graft_snap11")
    // hand-build a committed version holding bare parquet, no manifest
    Seq((1, "a"), (2, "b")).toDF("id", "value")
      .coalesce(1).write.parquet(s"$root/snapshot=0")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "_LATEST"), "0")
    SnapshotStore.setProperties(spark, root,
      Map("nBuckets" -> "4", "discriminant" -> "id"))
    def files(): Seq[String] = {
      val base = java.nio.file.Paths.get(root)
      java.nio.file.Files.walk(base).iterator().asScala
        .map(base.relativize(_).toString).toSeq.sorted
    }
    val before = files()
    Seq[(String, () => Any)](
      "read" -> (() => SnapshotStore.read(spark, root)),
      "upsert" -> (() => SnapshotStore.upsert(spark, root,
        Seq((3, "c")).toDF("id", "value"), cfg)),
      "delete" -> (() => SnapshotStore.delete(spark, root, Seq(1).toDF("id"))),
      "compact" -> (() => SnapshotStore.compact(spark, root))
    ).foreach { case (call, run) =>
      withClue(s"$call: ") {
        intercept[IllegalArgumentException](run())
          .getMessage should include ("snapshot=0/_MANIFEST")
      }
    }
    SnapshotStore.vacuum(spark, root, keep = 1) shouldBe Seq.empty
    files() shouldBe before
  }

  test("composite discriminant: bucket routing and merge agree on " +
    "multi-column keys") {
    val root = tempRoot("graft_snap12")
    val c = cfg.copy(discriminant = Seq("region", "id"))
    SnapshotStore.upsert(spark, root,
      (1 to 40).map(i => (s"r${i % 3}", i, s"v$i"))
        .toDF("region", "id", "value"), c)
    SnapshotStore.upsert(spark, root,
      Seq(("r1", 1, "updated"), ("r9", 99, "new")).toDF("region", "id", "value"), c)
    val rows = SnapshotStore.read(spark, root).get
    rows.count() shouldBe 41
    rows.filter(col("region") === "r1" && col("id") === 1)
      .head().getString(2) shouldBe "updated"
    rows.filter(col("region") === "r9").count() shouldBe 1
  }

  test("property: random batch sequences — the committed store always " +
    "equals the in-memory fold of the same upserts") {
    val rnd = new scala.util.Random(42)
    (0 until 5).foreach { trial =>
      val root = tempRoot(s"graft_prop$trial")
      var model = Map.empty[Int, String]
      (0 until 3).foreach { b =>
        val batch = (0 until (1 + rnd.nextInt(12)))
          .map(_ => rnd.nextInt(20) -> s"t${trial}b${b}v${rnd.nextInt(1000)}")
          .groupBy(_._1).map(_._2.head).toSeq // unique keys per batch
        model = model ++ batch.toMap
        SnapshotStore.upsert(spark, root,
          batch.toDF("id", "value"), cfg, nBuckets = 4)
      }
      val got = SnapshotStore.read(spark, root).get
        .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
      got shouldBe model
    }
  }

  test("change feed property: changes(i, j) equals the classified diff of " +
    "in-memory folds for EVERY retained version pair; carried-along " +
    "unchanged rows diff out; compact moves buckets but adds no row changes") {
    val rnd = new scala.util.Random(7)
    (0 until 3).foreach { trial =>
      val root = tempRoot(s"graft_cdf$trial")
      // states(v + 1) = table content at snapshot v (states(0) = empty)
      var states = Vector(Map.empty[Int, String])
      (0 until 4).foreach { b =>
        val batch = (0 until (1 + rnd.nextInt(10)))
          .map(_ => rnd.nextInt(16) -> s"t${trial}b${b}v${rnd.nextInt(1000)}")
          .groupBy(_._1).map(_._2.head).toSeq
        states = states :+ (states.last ++ batch.toMap)
        SnapshotStore.upsert(spark, root, batch.toDF("id", "value"), cfg,
          nBuckets = 4)
      }
      def expectedDiff(from: Long, to: Long): Set[(Int, String, String)] = {
        val (pre, post) = (states(from.toInt + 1), states(to.toInt + 1))
        post.collect {
          case (k, v) if !pre.contains(k) => (k, v, "insert")
          case (k, v) if pre(k) != v => (k, v, "update")
        }.toSet
      }
      for (i <- 0L until 4L; j <- i until 4L) {
        val got = SnapshotStore.changes(spark, root, i, j)
          .select("id", "value", "_change_type")
          .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
        got.length shouldBe got.toSet.size // keys unique in the feed
        got.toSet shouldBe expectedDiff(i, j)
      }
      // compact relocates fragmented buckets: the bucket-level feed sees
      // the move, the row-level feed must be empty (content unchanged)
      val before = SnapshotStore.currentVersion(spark, root).get
      if (SnapshotStore.compact(spark, root) > 0) {
        val after = SnapshotStore.currentVersion(spark, root).get
        SnapshotStore.changedBuckets(spark, root, before, after) should not be empty
        SnapshotStore.changes(spark, root, before, after).count() shouldBe 0L
      }
    }
  }

  test("changedBuckets is the manifest diff: a one-key upsert reports " +
    "exactly that key's bucket, metadata-only") {
    val root = tempRoot("graft_cdf_buckets")
    val base = (0 until 64).map(i => i -> s"v$i")
    SnapshotStore.upsert(spark, root, base.toDF("id", "value"), cfg,
      nBuckets = 8)
    SnapshotStore.upsert(spark, root,
      Seq(7 -> "v7b").toDF("id", "value"), cfg)
    val changed = SnapshotStore.changedBuckets(spark, root, 0L, 1L)
    changed.size shouldBe 1
    // identity (v, v) is always empty at both granularities
    SnapshotStore.changedBuckets(spark, root, 1L, 1L) shouldBe Set.empty
    SnapshotStore.changes(spark, root, 1L, 1L).count() shouldBe 0L
    // the row feed over that bucket is exactly the updated key
    val feed = SnapshotStore.changes(spark, root, 0L, 1L)
      .select("id", "value", "_change_type")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
    feed shouldBe Array((7, "v7b", "update"))
  }

  test("delete removes exactly the keyed rows bucket-pruned: untouched " +
    "buckets keep their manifest location, an emptied bucket drops out of " +
    "the manifest, the change feed classifies deletes with pre-image " +
    "values, and no-match deletes commit nothing") {
    val root = tempRoot("graft_delete")
    val base = (0 until 64).map(i => i -> s"v$i")
    SnapshotStore.upsert(spark, root, base.toDF("id", "value"), cfg,
      nBuckets = 8)
    // victims: three scattered keys, plus (separately below) one whole
    // bucket's population
    val nDel = SnapshotStore.delete(spark, root,
      Seq(3, 17, 42).toDF("id"))
    nDel shouldBe 3L
    val v1 = SnapshotStore.currentVersion(spark, root).get
    val got = SnapshotStore.read(spark, root).get
      .select("id", "value").collect().map(r => r.getInt(0)).toSet
    got shouldBe (0 until 64).toSet -- Set(3, 17, 42)
    // only the victims' buckets moved
    val changed = SnapshotStore.changedBuckets(spark, root, 0L, v1)
    changed.size should be <= 3
    // the feed: exactly the victims, change_type=delete, pre-image values
    val feed = SnapshotStore.changes(spark, root, 0L, v1)
      .select("id", "value", "_change_type").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    feed shouldBe Set((3, "v3", "delete"), (17, "v17", "delete"),
      (42, "v42", "delete"))
    // deleting keys that match nothing (or nothing at all) is a no-op:
    // same version, no claim burned
    SnapshotStore.delete(spark, root, Seq(3, 999).toDF("id")) shouldBe 0L
    SnapshotStore.currentVersion(spark, root).get shouldBe v1
    // key TYPE conformance: the store's id is INT; LONG-typed keys must
    // hash to the same buckets and still delete
    SnapshotStore.delete(spark, root, Seq(17L, 44L).toDF("id")) shouldBe 1L
    SnapshotStore.read(spark, root).get.count() shouldBe 60L
    // whole-bucket removal: delete every surviving member of bucket 0's
    // population — the manifest must forget the bucket, and the feed
    // still reports each row as a delete (the union-diff path)
    val v2 = SnapshotStore.currentVersion(spark, root).get
    val bucketOf = SnapshotStore.read(spark, root).get
      .select(col("id"),
        pmod(hash(col("id")), lit(8)).as("b"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    val b0 = bucketOf.collect { case (id, b) if b == 0 => id }.toSeq
    b0 should not be empty
    SnapshotStore.delete(spark, root,
      b0.toDF("id")) shouldBe b0.size.toLong
    val v3 = SnapshotStore.currentVersion(spark, root).get
    SnapshotStore.changedBuckets(spark, root, v2, v3) should contain(0)
    val delFeed = SnapshotStore.changes(spark, root, v2, v3)
      .select("id", "_change_type").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    delFeed shouldBe b0.map(id => (id, "delete")).toSet
    // a later upsert on the shrunken store still works and can repopulate
    SnapshotStore.upsert(spark, root,
      Seq(3 -> "v3b").toDF("id", "value"), cfg)
    SnapshotStore.read(spark, root).get
      .filter(col("id") === 3).count() shouldBe 1L
  }

  /** The stored rows of `root`, one string per row, sorted: the
    * bit-for-bit content the two delete paths must agree on. */
  private def storedRows(root: String): Seq[String] =
    SnapshotStore.read(spark, root).get.collect().map(_.toString).toSeq.sorted

  test("delete's driver key set and its join plan remove and store the " +
    "same rows: null keys, stored null keys, LONG keys on an INT store, " +
    "duplicate and no-match keys, an emptied bucket and a two-column " +
    "discriminant") {
    // each batch runs through the driver key set (a gate above every
    // batch here) on one twin and through the join plan (driverKeys = 0)
    // on the other
    def agree(twins: (String, String), keys: org.apache.spark.sql.DataFrame,
              expected: Long): Unit = {
      val (onDriver, joined) = twins
      SnapshotStore.deleteGated(spark, onDriver, keys,
        driverKeys = 100000) shouldBe expected
      SnapshotStore.deleteGated(spark, joined, keys, driverKeys = 0) shouldBe
        expected
      SnapshotStore.currentVersion(spark, onDriver) shouldBe
        SnapshotStore.currentVersion(spark, joined)
      storedRows(onDriver) shouldBe storedRows(joined)
    }
    val one = Seq[(Integer, String)]((null, "null key")) ++
      (0 until 40).map(i => (Integer.valueOf(i), s"v$i"))
    val single = (tempRoot("graft_del_drv"), tempRoot("graft_del_join"))
    Seq(single._1, single._2).foreach(r => SnapshotStore.upsert(spark, r,
      one.toDF("id", "value"), cfg, nBuckets = 4))
    def nullIds(root: String): Long =
      SnapshotStore.read(spark, root).get.filter(col("id").isNull).count()
    nullIds(single._1) shouldBe 1L
    // LONG keys on the INT store, a null key, a duplicate, a no-match key
    agree(single, Seq[java.lang.Long](3L, null, 3L, 17L, 999L).toDF("id"), 2L)
    // no match, only nulls, no keys at all: nothing committed
    agree(single, Seq(999, 1000).toDF("id"), 0L)
    agree(single, Seq[Integer](null).toDF("id"), 0L)
    agree(single, Seq.empty[Int].toDF("id"), 0L)
    // every row of one bucket: the bucket drops out of both manifests
    val bucket0 = SnapshotStore.read(spark, single._1).get
      .filter(pmod(hash(col("id")), lit(4)) === 0).select("id")
      .as[Int].collect().toSeq
    bucket0 should not be empty
    agree(single, bucket0.toDF("id"), bucket0.size.toLong)
    SnapshotStore.manifestBucketIds(spark, single._1) should not contain 0
    SnapshotStore.manifestBucketIds(spark, single._2) should not contain 0
    nullIds(single._1) shouldBe 1L

    // a two-column discriminant is not held on the driver: both twins run
    // the join plan, so this part pins the join path's own null handling
    val pairCfg = cfg.copy(discriminant = Seq("k", "tag"))
    val two = Seq[(Integer, String, String)]((1, null, "stored null tag"),
      (null, "a", "stored null k")) ++
      (0 until 30).map(i => (Integer.valueOf(i % 10), s"t${i / 10}", s"v$i"))
    val double = (tempRoot("graft_del2_drv"), tempRoot("graft_del2_join"))
    Seq(double._1, double._2).foreach(r => SnapshotStore.upsert(spark, r,
      two.toDF("k", "tag", "value"), pairCfg, nBuckets = 4))
    // a null in either column matches nothing; (1, t0) twice; (1, t9) no
    // stored row
    agree(double, Seq[(Integer, String)]((1, "t0"), (1, "t0"), (1, null),
      (null, "a"), (2, "t1"), (1, "t9")).toDF("k", "tag"), 2L)
    agree(double, Seq[(Long, String)]((3L, "t2")).toDF("k", "tag"), 1L)
    SnapshotStore.read(spark, double._1).get
      .filter(col("k").isNull || col("tag").isNull).count() shouldBe 2L
  }

  test("delete holds only one integer-valued key column on the driver: a " +
    "string or two-column discriminant runs the join plan's jobs") {
    def jobs(root: String, keys: org.apache.spark.sql.DataFrame,
             driverKeys: Int): Int =
      JobTap.count(spark.sparkContext) { phase =>
        phase("delete")(SnapshotStore.deleteGated(spark, root, keys,
          driverKeys = driverKeys) shouldBe 1L)
      }("delete")
    def twins(tag: String, rows: org.apache.spark.sql.DataFrame,
              c: UpsertConfig): (String, String) = {
      val t = (tempRoot(s"graft_${tag}_a"), tempRoot(s"graft_${tag}_b"))
      Seq(t._1, t._2).foreach(r =>
        SnapshotStore.upsert(spark, r, rows, c, nBuckets = 4))
      t
    }
    val held = twins("held", Seq((1, "a"), (2, "b")).toDF("id", "value"), cfg)
    val driverJobs = jobs(held._1, Seq(1).toDF("id"), DriverKeys.MaxKeys)
    val joinJobs = jobs(held._2, Seq(1).toDF("id"), 0)
    driverJobs should be < joinJobs
    val strings = twins("strkey",
      Seq(("x", "a"), ("y", "b")).toDF("id", "value"), cfg)
    jobs(strings._1, Seq("x").toDF("id"), DriverKeys.MaxKeys) shouldBe joinJobs
    jobs(strings._2, Seq("x").toDF("id"), 0) shouldBe joinJobs
    val pair = twins("pairkey", Seq((1, "t", "a"), (2, "t", "b"))
      .toDF("k", "tag", "value"), cfg.copy(discriminant = Seq("k", "tag")))
    jobs(pair._1, Seq((1, "t")).toDF("k", "tag"), DriverKeys.MaxKeys) shouldBe
      joinJobs
    jobs(pair._2, Seq((1, "t")).toDF("k", "tag"), 0) shouldBe joinJobs
  }

  test("streaming opt-out: a key stream applied per epoch through " +
    "StreamOps.upsertSink + delete shrinks the store, the feed reports " +
    "deletes, and a REPLAYED epoch converges (at-least-once safety: " +
    "deleting already-absent keys commits nothing)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val root = tempRoot("graft_stream_del")
    SnapshotStore.upsert(spark, root,
      (0 until 32).map(i => i -> s"v$i").toDF("id", "value"), cfg,
      nBuckets = 8)
    val mem = MemoryStream[Int]
    val q = graft.streaming.StreamOps.upsertSink(mem.toDF().toDF("id")) {
      (batch, _) => SnapshotStore.delete(spark, root, batch); ()
    }
    try {
      mem.addData(3, 7)
      q.processAllAvailable()
      SnapshotStore.read(spark, root).get.count() shouldBe 30L
      val v1 = SnapshotStore.currentVersion(spark, root).get
      mem.addData(7, 11) // 7 replays (already gone), 11 is new
      q.processAllAvailable()
      SnapshotStore.read(spark, root).get.count() shouldBe 29L
      val feed = SnapshotStore.changes(spark, root, 0L,
        SnapshotStore.currentVersion(spark, root).get)
        .select("id", "_change_type").collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet
      feed shouldBe Set((3, "delete"), (7, "delete"), (11, "delete"))
      // epoch replay (foreachBatch may re-deliver on recovery): all keys
      // already absent -> no commit, no version burn — convergence
      SnapshotStore.delete(spark, root, Seq(3, 7, 11).toDF("id")) shouldBe 0L
      SnapshotStore.currentVersion(spark, root).get shouldBe v1 + 1
    } finally q.stop()
  }

  test("rewrite commits a full-store transform as one new version and " +
    "refuses schema-changing transforms") {
    val root = tempRoot("graft_rewrite")
    val base = (0 until 64).map(i => i -> s"v$i")
    SnapshotStore.upsert(spark, root, base.toDF("id", "value"), cfg,
      nBuckets = 8)
    SnapshotStore.upsert(spark, root,
      Seq(7 -> "v7b").toDF("id", "value"), cfg) // two holding versions
    val v = SnapshotStore.currentVersion(spark, root).get
    SnapshotStore.rewrite(spark, root,
      df => df.withColumn("value", upper(col("value")))) shouldBe v + 1
    val got = SnapshotStore.read(spark, root).get
      .select("id", "value").collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    got(7) shouldBe "V7B"
    got.size shouldBe 64
    got.values.foreach(s => s shouldBe s.toUpperCase)
    // every bucket now lives at the rewrite version (the manifest diff
    // reports all of them changed)
    SnapshotStore.changedBuckets(spark, root, v, v + 1).size shouldBe 8
    // a column-dropping or type-changing transform fails loudly, and
    // nothing commits (claims above the pointer are crashed-writer
    // leftovers vacuum reclaims; the pointer must not move)
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.rewrite(spark, root, _.drop("value"))
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.rewrite(spark, root,
        df => df.withColumn("value", lit(1)))
    SnapshotStore.currentVersion(spark, root).get shouldBe v + 1
    // a ROW-DROPPING transform that empties buckets must not brick the
    // store: the manifest records only directories the write produced,
    // so the emptied buckets drop out and every later read still works
    SnapshotStore.rewrite(spark, root,
      df => df.filter(col("id") < 8)) shouldBe v + 2
    SnapshotStore.read(spark, root).get.count() shouldBe 8L
    SnapshotStore.changes(spark, root, v + 1, v + 2)
      .filter(col("_change_type") === "delete").count() shouldBe 56L
    // emptying the store entirely is survivable too: reads see zero
    // rows, and a rewrite of the empty store is a version-preserving
    // no-op instead of an empty.reduce crash
    SnapshotStore.rewrite(spark, root, df => df.filter(lit(false)))
    SnapshotStore.read(spark, root).get.count() shouldBe 0L
    val vEmpty = SnapshotStore.currentVersion(spark, root).get
    SnapshotStore.rewrite(spark, root, df => df) shouldBe vEmpty
    // and delete on the empty store is a no-op as well
    SnapshotStore.delete(spark, root, Seq(1).toDF("id")) shouldBe 0L
    // the store remains writable: an upsert repopulates
    SnapshotStore.upsert(spark, root, Seq(5 -> "back").toDF("id", "value"), cfg)
    SnapshotStore.read(spark, root).get.count() shouldBe 1L
  }

  test("diffBucketIds diffs the UNION of manifests: additions, moves AND " +
    "whole-bucket removals all classify as changed") {
    // delete() empties buckets out of the manifest, so the kernel must
    // see a from-side-only bucket (a to-only iteration silently would not)
    val from = Map(0 -> 0L, 1 -> 0L, 2 -> 1L)
    val to = Map(0 -> 0L, 2 -> 2L, 3 -> 2L)
    SnapshotStore.diffBucketIds(from, to) shouldBe Set(1, 2, 3)
    SnapshotStore.diffBucketIds(from, from) shouldBe Set.empty
    SnapshotStore.diffBucketIds(Map.empty, to) shouldBe to.keySet
    SnapshotStore.diffBucketIds(from, Map.empty) shouldBe from.keySet
  }

  test("change feed failure modes are loud: vacuumed from-version, " +
    "missing discriminant recording, and a mismatched upsert discriminant") {
    val root = tempRoot("graft_cdf_err")
    (0 until 4).foreach { b =>
      SnapshotStore.upsert(spark, root,
        Seq(b -> s"v$b").toDF("id", "value"), cfg, nBuckets = 4)
    }
    SnapshotStore.vacuum(spark, root, keep = 2)
    val e = intercept[IllegalArgumentException] {
      SnapshotStore.changes(spark, root, 0L, 3L)
    }
    e.getMessage should include ("vacuum")
    // retained pair still fine after the vacuum
    SnapshotStore.changes(spark, root, 2L, 3L).count() shouldBe 1L

    // discriminant is recorded at creation and a conflicting upsert fails
    SnapshotStore.discriminantColumns(spark, root) shouldBe Seq("id")
    val mismatch = intercept[IllegalArgumentException] {
      SnapshotStore.upsert(spark, root,
        Seq(("a", 1)).toDF("value", "id"),
        cfg.copy(discriminant = Seq("value")))
    }
    mismatch.getMessage should include ("discriminant")
  }

  test("legacy store without a recorded discriminant: changes refuses " +
    "with guidance, and an empty recording reads as none") {
    val root = tempRoot("graft_cdf_legacy")
    SnapshotStore.upsert(spark, root,
      Seq(1 -> "a").toDF("id", "value"), cfg, nBuckets = 4)
    SnapshotStore.upsert(spark, root,
      Seq(2 -> "b").toDF("id", "value"), cfg)
    SnapshotStore.discriminantColumns(spark, root) shouldBe Seq("id")
    // simulate a pre-property store by blanking the recording
    SnapshotStore.setProperty(spark, root, "discriminant", "")
    SnapshotStore.discriminantColumns(spark, root) shouldBe Nil
    // every path that hashes or joins on the merge key refuses it, before
    // any claim
    Seq[(String, () => Any)](
      "changes" -> (() => SnapshotStore.changes(spark, root, 0L, 1L)),
      "upsert" -> (() => SnapshotStore.upsert(spark, root,
        Seq(3 -> "c").toDF("id", "value"), cfg)),
      "delete" -> (() => SnapshotStore.delete(spark, root, Seq(1).toDF("id")))
    ).foreach { case (call, run) =>
      withClue(s"$call: ") {
        intercept[IllegalArgumentException](run())
          .getMessage should include ("discriminant")
      }
    }
    SnapshotStore.currentVersion(spark, root) shouldBe Some(1L)
    new java.io.File(root, "claim=2").exists() shouldBe false
  }

  test("compact rewrites fragmented buckets to one file each behind the " +
    "claim protocol: identical reads before/during/after, untouched " +
    "buckets keep their old reference, crashed compactor is vacuumable") {
    val root = tempRoot("graft_snap_cmp")
    // force multi-file bucket writes: without AQE's coalescing, the merge
    // output keeps its shuffle partitioning, so each bucket directory gets
    // one file per partition holding its rows
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      (0 until 3).foreach { i =>
        SnapshotStore.upsert(spark, root,
          (0 until 40).map(k => (k, s"v$i-$k")).toDF("id", "value")
            .repartition(4), cfg,
          // 3 buckets vs 4 shuffle partitions: the merge's hash
          // partitioning does NOT align with the bucket modulus, so each
          // bucket's rows span several write tasks -> several files
          nBuckets = 3)
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    val before = SnapshotStore.read(spark, root).get.orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1)))
    val vBefore = SnapshotStore.currentVersion(spark, root).get

    def bucketFiles(): Map[String, Int] = {
      new java.io.File(root).listFiles().filter(_.getName.startsWith("snapshot="))
        .flatMap(_.listFiles().filter(_.getName.startsWith("__bucket=")))
        .map(d => d.getParentFile.getName + "/" + d.getName ->
          d.listFiles().count(f => f.isFile && !f.getName.startsWith("_")
            && !f.getName.startsWith(".")))
        .toMap
    }
    bucketFiles().values.max should be > 1 // fragmentation actually exists

    // a crashed compactor: claim + partial snapshot above the pointer —
    // readers unaffected, vacuum reclaims, then compaction proceeds
    val orphanV = vBefore + 1
    new java.io.File(root, s"claim=$orphanV").createNewFile()
    new java.io.File(root, s"snapshot=$orphanV/__bucket=0").mkdirs()
    SnapshotStore.read(spark, root).get.orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1))) shouldBe before
    SnapshotStore.vacuum(spark, root, keep = Int.MaxValue) shouldBe Seq(orphanV)

    val rewritten = SnapshotStore.compact(spark, root)
    rewritten should be > 0
    SnapshotStore.currentVersion(spark, root) shouldBe Some(vBefore + 1)
    // identical content, every live bucket now a single file
    SnapshotStore.read(spark, root).get.orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1))) shouldBe before
    val liveDirs = bucketFiles().filter(_._1.startsWith(s"snapshot=${vBefore + 1}/"))
    liveDirs.values.foreach(_ shouldBe 1)
    // prior version still time-travels until vacuumed
    SnapshotStore.readVersion(spark, root, vBefore).orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1))) shouldBe before
    // already-compact store: no-op, no version consumed
    SnapshotStore.compact(spark, root) shouldBe 0
    SnapshotStore.currentVersion(spark, root) shouldBe Some(vBefore + 1)
    // and the next upsert proceeds normally on the compacted store
    SnapshotStore.upsert(spark, root, Seq((1, "zz")).toDF("id", "value"), cfg)
    SnapshotStore.read(spark, root).get.filter($"id" === 1)
      .select("value").as[String].head() shouldBe "zz"
  }

  test("compact is correct with partitionColumnTypeInference DISABLED: the " +
    "recovered __bucket column arrives as StringType and the explicit int " +
    "pin keeps routing/merge/read identical") {
    val root = tempRoot("graft_snap_cmp_noinf")
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      (0 until 2).foreach { i =>
        SnapshotStore.upsert(spark, root,
          (0 until 40).map(k => (k, s"v$i-$k")).toDF("id", "value")
            .repartition(4), cfg, nBuckets = 3)
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
    val before = SnapshotStore.read(spark, root).get.orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1)))

    // isolated-conf clone: inference off changes the recovered partition
    // column's type on compact's multi-path read (StringType), the session
    // config drift ADVICE flagged
    val noInf = org.apache.spark.sql.graftbridge.Bridge.cloneSession(spark)
    noInf.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    val rewritten = SnapshotStore.compact(noInf, root)
    rewritten should be > 0
    SnapshotStore.read(spark, root).get.orderBy("id")
      .collect().map(r => (r.getInt(0), r.getString(1))) shouldBe before
    // the store still upserts + reads correctly afterwards (bucket dirs
    // were written from the int-pinned column, not "cast-back" strings)
    SnapshotStore.upsert(spark, root, Seq((1, "zz")).toDF("id", "value"), cfg)
    SnapshotStore.read(spark, root).get.filter($"id" === 1)
      .select("value").as[String].head() shouldBe "zz"
  }

  test("written/errors outputs survive vacuum (eagerly materialized)") {
    val root = tempRoot("graft_snap5")
    SnapshotStore.upsert(spark, root, Seq((1, "a")).toDF("id", "value"), cfg)
    val r = SnapshotStore.upsert(spark, root,
      Seq((1, "a2")).toDF("id", "value"), cfg)
    SnapshotStore.vacuum(spark, root, keep = 1)
    // lineage to the pre-merge snapshot is gone; materialized results live on
    r.written.count() shouldBe 1
    r.errors.count() shouldBe 0
  }

  test("upsert evaluates its batch once: a one-row batch whose key changes " +
    "between evaluations lands whole and drops no stored bucket") {
    val root = tempRoot("graft_snap_once")
    val nb = 4
    SnapshotStore.upsert(spark, root,
      (0L until 100L).map(i => (i, s"v$i")).toDF("id", "value"), cfg,
      nBuckets = nb)
    def bucketOf(k: Long): Int =
      spark.range(1).select(pmod(hash(lit(k)), lit(nb))).head().getInt(0)
    val keyA = 1000L
    val keyB = (1001L to 1100L).find(k => bucketOf(k) != bucketOf(keyA)).get
    // first call returns keyA, every later call keyB (a live source or a
    // nondeterministic expression read twice); the counter is JVM-global,
    // which holds because the suite runs on a local master
    SnapshotStoreSpec.batchEvaluations.set(0)
    val movingKey = udf { () =>
      if (SnapshotStoreSpec.batchEvaluations.incrementAndGet() == 1) keyA
      else keyB
    }.asNondeterministic()
    val r = SnapshotStore.upsert(spark, root,
      spark.range(1).select(movingKey().as("id"), lit("new").as("value")), cfg)
    r.written.select("id").as[Long].collect() shouldBe Array(keyA)
    r.errors.count() shouldBe 0
    SnapshotStoreSpec.batchEvaluations.get() shouldBe 1
    SnapshotStore.read(spark, root).get.orderBy("id").as[(Long, String)]
      .collect().toSeq shouldBe
      (0L until 100L).map(i => (i, s"v$i")) :+ ((keyA, "new"))
  }

  test("an empty batch, with or without partitions, commits a version " +
    "that reads the same rows and writes nothing") {
    val root = tempRoot("graft_snap_emptybatch")
    SnapshotStore.upsert(spark, root,
      Seq((1L, "a"), (2L, "b")).toDF("id", "value"), cfg)
    val noPartitions = Seq.empty[(Long, String)].toDF("id", "value")
    val noRows = spark.range(100).select(col("id"), lit("x").as("value"))
      .filter(col("id") < 0)
    for ((batch, v) <- Seq(noPartitions, noRows).zip(Seq(1L, 2L))) {
      SnapshotStore.upsert(spark, root, batch, cfg).written.count() shouldBe 0
      SnapshotStore.currentVersion(spark, root) shouldBe Some(v)
      SnapshotStore.read(spark, root).get.orderBy("id").as[(Long, String)]
        .collect().toSeq shouldBe Seq((1L, "a"), (2L, "b"))
    }
  }

  /** All parquet data files under every snapshot dir of `root`. */
  private def dataFiles(root: String): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      java.nio.file.Files.isRegularFile(p) && n.endsWith(".parquet") &&
        !n.startsWith("_") && !n.startsWith(".")
    }.toList
    finally s.close()
  }

  private def assertFileSorted(p: java.nio.file.Path, colName: String): Unit = {
    val vals = spark.read.parquet(p.toString).select(colName)
      .collect().map(_.getDouble(0)).toSeq
    withClue(s"file $p not sorted by $colName: ") {
      vals shouldBe vals.sorted
    }
  }

  test("clusterBy: recorded at creation, EVERY written file is sorted by " +
    "the cluster column across later upserts (which need not repeat it), " +
    "and the store stays row-identical to an unclustered twin") {
    val rnd = new scala.util.Random(42)
    def batch(ids: Range) =
      ids.map(i => (i, rnd.nextDouble() * 1000, s"v$i"))
        .toDF("id", "score", "value")
    val rootC = tempRoot("graft_clus")
    val rootU = tempRoot("graft_unclus")
    val b1 = batch(0 until 400)
    val b2 = batch(200 until 600)
    SnapshotStore.upsert(spark, rootC, b1, cfg, nBuckets = 4,
      clusterBy = Seq("score"))
    SnapshotStore.upsert(spark, rootC, b2, cfg) // no clusterBy: prop wins
    SnapshotStore.getProperty(spark, rootC, "clusterBy") shouldBe Some("score")
    SnapshotStore.clusterColumns(spark, rootC) shouldBe Seq("score")
    dataFiles(rootC) should not be empty
    dataFiles(rootC).foreach(assertFileSorted(_, "score"))
    // physical layout only: rows identical to the unclustered twin
    SnapshotStore.upsert(spark, rootU, b1, cfg, nBuckets = 4)
    SnapshotStore.upsert(spark, rootU, b2, cfg)
    val proj = Seq("id", "score", "value").map(col)
    SnapshotStore.read(spark, rootC).get.select(proj: _*).orderBy("id")
      .collect().map(_.toSeq) shouldBe
      SnapshotStore.read(spark, rootU).get.select(proj: _*).orderBy("id")
        .collect().map(_.toSeq)
  }

  test("clusterBy: compact re-sorts each fragmented bucket into one fully " +
    "sorted file (repairing the overlapping ranges multi-task upserts " +
    "leave)") {
    val rnd = new scala.util.Random(7)
    val root = tempRoot("graft_clusc")
    // many input partitions → several files per bucket, each sorted but
    // with overlapping ranges
    val b = (0 until 600).map(i => (i, rnd.nextDouble() * 1000))
      .toDF("id", "score").repartition(6)
    SnapshotStore.upsert(spark, root, b, cfg, nBuckets = 2,
      clusterBy = Seq("score"))
    SnapshotStore.compact(spark, root, maxFilesPerBucket = 1) should be > 0
    val files = dataFiles(root)
    files.foreach(assertFileSorted(_, "score"))
    // current version: one file per bucket, each globally sorted
    val v = SnapshotStore.currentVersion(spark, root).get
    val cur = files.filter(_.toString.contains(s"snapshot=$v"))
    cur should have size 2
    // and the compacted content is intact
    SnapshotStore.read(spark, root).get.count() shouldBe 600L
  }

  test("clusterBy: a typo column fails the creating upsert loudly; a " +
    "CONFLICTING clusterBy on an EXISTING store fails loudly (recorded " +
    "wins — it is never silently dropped); repeating or omitting the " +
    "recorded layout is fine") {
    val root = tempRoot("graft_clusv")
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.upsert(spark, root,
        Seq((1, 2.0)).toDF("id", "score"), cfg, clusterBy = Seq("nope"))
    SnapshotStore.upsert(spark, root,
      Seq((1, 2.0)).toDF("id", "score"), cfg, clusterBy = Seq("score"))
    // a conflicting layout request must not be silently ignored: the
    // caller would believe their clustering held while the files carry
    // the recorded one
    an[IllegalArgumentException] should be thrownBy
      SnapshotStore.upsert(spark, root,
        Seq((2, 1.0)).toDF("id", "score"), cfg, clusterBy = Seq("id"))
    // repeating the recorded layout and omitting it are both legal
    SnapshotStore.upsert(spark, root,
      Seq((2, 1.0)).toDF("id", "score"), cfg, clusterBy = Seq("score"))
    SnapshotStore.upsert(spark, root, Seq((3, 0.5)).toDF("id", "score"), cfg)
    SnapshotStore.clusterColumns(spark, root) shouldBe Seq("score")
    SnapshotStore.read(spark, root).get.count() shouldBe 3L
  }

  test("vacuum keeps EVERY live bucket sharing a holding version: after " +
    "a one-bucket delete + vacuum(keep=1), all untouched sibling buckets " +
    "of the dropped version survive and the store reads whole " +
    "(regression: the live set was built by mapping the bucket->version " +
    "Map through a key-colliding swap, collapsing to one survivor per " +
    "version — vacuum deleted live data)") {
    val root = tempRoot("graft_vac_live")
    SnapshotStore.upsert(spark, root,
      (1 to 40).map(i => (i, s"doc-$i")).toDF("id", "value"), cfg,
      nBuckets = 8)
    val victims = Seq(3, 7, 11)
    SnapshotStore.delete(spark, root, victims.toDF("id")) shouldBe 3L
    // the delete touched few buckets; every untouched one still points at
    // version 0 in the live manifest
    val changed = SnapshotStore.changedBuckets(spark, root, 0L, 1L)
    changed.size should be < 8
    SnapshotStore.vacuum(spark, root, keep = 1) shouldBe Seq(0L)
    // the dropped version's UNTOUCHED bucket directories all survive —
    // they are the live version's data
    val s0dirs = new java.io.File(root, "snapshot=0").listFiles()
      .map(_.getName).filter(_.startsWith("__bucket=")).toSet
    s0dirs shouldBe (0 until 8).toSet.diff(changed)
      .map(b => s"__bucket=$b")
    // and the store reads whole: exactly the non-victims
    val got = SnapshotStore.read(spark, root).get
      .select("id").collect().map(_.getInt(0)).toSet
    got shouldBe (1 to 40).toSet.diff(victims.toSet)
  }

  test("delete and rewrite honor the claim protocol like upsert: a " +
    "pre-claimed version makes both fail loudly with the store readable " +
    "and unchanged, and vacuuming the stale claim unblocks them") {
    val root = tempRoot("graft_race0")
    SnapshotStore.upsert(spark, root,
      (1 to 50).map(i => (i, s"v$i")).toDF("id", "value"), cfg, nBuckets = 8)
    // a competing (or crashed) writer already holds claim=1
    new java.io.File(root, "claim=1").createNewFile() shouldBe true
    intercept[SnapshotStore.ConcurrentWriteException] {
      SnapshotStore.delete(spark, root, Seq(1, 2).toDF("id"))
    }
    SnapshotStore.currentVersion(spark, root) shouldBe Some(0L)
    SnapshotStore.read(spark, root).get.count() shouldBe 50L
    intercept[SnapshotStore.ConcurrentWriteException] {
      SnapshotStore.rewrite(spark, root,
        df => df.withColumn("value", upper(col("value"))))
    }
    SnapshotStore.currentVersion(spark, root) shouldBe Some(0L)
    SnapshotStore.read(spark, root).get.count() shouldBe 50L
    // reclaim the stale claim; both paths then proceed normally
    SnapshotStore.vacuum(spark, root, keep = 1)
    SnapshotStore.delete(spark, root, Seq(1, 2).toDF("id")) shouldBe 2L
    SnapshotStore.rewrite(spark, root,
      df => df.withColumn("value", upper(col("value"))))
    SnapshotStore.read(spark, root).get.count() shouldBe 48L
  }

  test("racing write pairs (delete vs upsert, rewrite vs upsert, delete " +
    "vs rewrite) can never BOTH commit the same version: the " +
    "create-exclusive claim serializes them — the loser fails loudly " +
    "with ConcurrentWriteException (or lands serially on the next " +
    "version), and concurrent readers only ever see committed states") {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
    def runPair(tag: String, opA: String => Unit, opB: String => Unit,
                finalCount: (Boolean, Boolean) => Long,
                legal: Set[Long]): Unit = withClue(s"pair $tag: ") {
      val root = tempRoot(s"graft_race_$tag")
      SnapshotStore.upsert(spark, root,
        (1 to 60).map(i => (i, s"v$i")).toDF("id", "value"), cfg,
        nBuckets = 8)
      val start = new CountDownLatch(1)
      @volatile var okA = false
      @volatile var okB = false
      val errs = new ConcurrentLinkedQueue[Throwable]()
      def writer(op: String => Unit, mark: () => Unit) = new Thread(() => {
        start.await()
        try { op(root); mark() }
        catch { case e: Throwable => errs.add(e) }
      })
      val ta = writer(opA, () => okA = true)
      val tb = writer(opB, () => okB = true)
      // a reader hammering the store THROUGH the race: every read must
      // resolve to some committed state (one of the four reachable
      // contents), never an error or a torn count
      val readerStop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val readerErrs = new ConcurrentLinkedQueue[Throwable]()
      val tr = new Thread(() => {
        start.await()
        while (!readerStop.get()) {
          try {
            val c = SnapshotStore.read(spark, root).get.count()
            if (!legal(c))
              readerErrs.add(new AssertionError(s"reader saw count $c"))
          } catch { case e: Throwable => readerErrs.add(e) }
        }
      })
      ta.start(); tb.start(); tr.start()
      start.countDown()
      ta.join(120000); tb.join(120000)
      readerStop.set(true); tr.join(120000)
      readerErrs.toArray.toSeq shouldBe empty
      // every loser failed LOUDLY with the concurrency exception — a
      // silent success-shaped loss is exactly what this test forbids
      errs.toArray.foreach(e =>
        e shouldBe a[SnapshotStore.ConcurrentWriteException])
      val successes = Seq(okA, okB).count(identity)
      successes should be >= 1
      successes + errs.size shouldBe 2
      // one committed version per success, starting from v0 = 0: two
      // writers can NEVER share one (the claim is create-exclusive)
      SnapshotStore.currentVersion(spark, root).get shouldBe successes.toLong
      SnapshotStore.read(spark, root).get.count() shouldBe finalCount(okA, okB)
    }
    val newRows = (101 to 110).map(i => (i, s"n$i")).toDF("id", "value")
    runPair("del_up",
      r => { SnapshotStore.delete(spark, r, (1 to 5).toDF("id")); () },
      r => { SnapshotStore.upsert(spark, r, newRows, cfg); () },
      (a, b) => 60L - (if (a) 5L else 0L) + (if (b) 10L else 0L),
      legal = Set(60L, 55L, 70L, 65L))
    runPair("rw_up",
      r => SnapshotStore.rewrite(spark, r,
        df => df.withColumn("value", upper(col("value")))),
      r => { SnapshotStore.upsert(spark, r, newRows, cfg); () },
      (_, b) => 60L + (if (b) 10L else 0L),
      legal = Set(60L, 70L))
    runPair("del_rw",
      r => { SnapshotStore.delete(spark, r, (1 to 5).toDF("id")); () },
      r => SnapshotStore.rewrite(spark, r,
        df => df.withColumn("value", upper(col("value")))),
      (a, _) => 60L - (if (a) 5L else 0L),
      legal = Set(60L, 55L))
    // upsert vs upsert completes the writer matrix: same claim mechanism
    // as the pairs above, but asserted as a PROTOCOL property here rather
    // than inferred from the shared mechanism (disjoint key ranges, so
    // both landing serially is additive)
    val newRowsB = (201 to 215).map(i => (i, s"m$i")).toDF("id", "value")
    runPair("up_up",
      r => { SnapshotStore.upsert(spark, r, newRows, cfg); () },
      r => { SnapshotStore.upsert(spark, r, newRowsB, cfg); () },
      (a, b) => 60L + (if (a) 10L else 0L) + (if (b) 15L else 0L),
      legal = Set(60L, 70L, 75L, 85L))
  }

  test("reader vs vacuum: a reader holding a resolution vacuum reclaims " +
    "fails LOUDLY on its next action and recovers by re-resolving — " +
    "never silently partial rows — and a reader hammering through an " +
    "advance+vacuum loop observes only committed counts") {
    val root = tempRoot("graft_rdvac")
    SnapshotStore.upsert(spark, root,
      (1 to 60).map(i => (i, s"v$i")).toDF("id", "value"), cfg, nBuckets = 8)
    // deterministic half: resolve v0, rewrite EVERY bucket (full-overlap
    // update), advance once more, reclaim v0 — the stale plan's file
    // index names only snapshot=0 bucket directories, all now
    // unreferenced and deleted, and absent inputs are ERRORS under
    // Spark's default ignoreMissingFiles=false, not skips
    val stale = SnapshotStore.read(spark, root).get
    stale.count() shouldBe 60L
    SnapshotStore.upsert(spark, root,
      (1 to 60).map(i => (i, s"V$i")).toDF("id", "value"), cfg)
    SnapshotStore.upsert(spark, root,
      (101 to 110).map(i => (i, s"n$i")).toDF("id", "value"), cfg)
    SnapshotStore.vacuum(spark, root, keep = 1) should contain(0L)
    // loud, not partial: any missing-input failure qualifies; a count
    // below 60 returned without error is exactly the forbidden outcome
    intercept[Throwable] { stale.count() }
    // the failure is retryable — re-resolving reads the committed state
    SnapshotStore.read(spark, root).get.count() shouldBe 70L

    // live half: reader re-resolving in a loop while the store advances
    // and vacuums underneath it. Clean failures are IN contract (the
    // reader may resolve a pointer whose version a racing vacuum just
    // dropped); an ILLEGAL COUNT — a partial state — is the one
    // forbidden outcome.
    val legal = Set(70L, 80L, 90L, 100L, 110L)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val bad = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val successes = new java.util.concurrent.atomic.AtomicLong(0L)
    val tr = new Thread(() => {
      while (!stop.get()) {
        try {
          val c = SnapshotStore.read(spark, root).get.count()
          if (legal(c)) successes.incrementAndGet()
          else bad.add(s"reader saw partial count $c")
        } catch { case _: Throwable => () } // loud + retryable: allowed
      }
    })
    tr.start()
    (2 to 5).foreach { i =>
      SnapshotStore.upsert(spark, root,
        ((i * 100 + 1) to (i * 100 + 10)).map(j => (j, s"b$j"))
          .toDF("id", "value"), cfg)
      SnapshotStore.vacuum(spark, root, keep = 1)
    }
    stop.set(true)
    tr.join(120000)
    bad.toArray.toSeq shouldBe empty
    successes.get() should be >= 1L
    SnapshotStore.read(spark, root).get.count() shouldBe 110L
  }

  test("control files on an object-store scheme refuse loudly by " +
    "default (no atomic rename = torn-reader hazard) and accept an " +
    "EXPLICIT opt-in acknowledging a consistent-metadata-layer or " +
    "single-reader deployment") {
    val dir = tempRoot("graft_s3ctl")
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sessionState.newHadoopConf())
    conf.set("fs.s3a.impl", classOf[S3ALikeFileSystem].getName)
    val root = s"s3a:$dir"
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(conf)
    fs.getScheme shouldBe "s3a"
    val ex = intercept[IllegalArgumentException] {
      SnapshotStore.atomicReplaceSmallFile(fs, root, "meta", "k=v\n")
    }
    ex.getMessage should include("atomic rename")
    ex.getMessage should include("allowNonAtomicControlFiles")
    // the opt-in is read from the filesystem's OWN conf (reachable via
    // spark.hadoop.* in a real deployment) — with it set, the write
    // lands through the plain-rename path
    conf.setBoolean("graft.snapshot.allowNonAtomicControlFiles", true)
    val fsOk = org.apache.hadoop.fs.FileSystem.newInstance(
      new org.apache.hadoop.fs.Path(root).toUri, conf)
    SnapshotStore.atomicReplaceSmallFile(fsOk, root, "meta", "k=v\n")
    val in = fsOk.open(new org.apache.hadoop.fs.Path(root, "meta"))
    val text = try new String(in.readAllBytes(), "UTF-8")
    finally in.close()
    text shouldBe "k=v\n"
    // replace (not just create) also works through the opt-in path
    SnapshotStore.atomicReplaceSmallFile(fsOk, root, "meta", "k=w\n")
    val in2 = fsOk.open(new org.apache.hadoop.fs.Path(root, "meta"))
    val text2 = try new String(in2.readAllBytes(), "UTF-8")
    finally in2.close()
    text2 shouldBe "k=w\n"
  }

  /** A 4-bucket store of 40 rows whose creating write keeps the batch's 4
    * partitions, so each bucket holds several files and compact has work. */
  private def fragmentedStore(prefix: String): String = {
    val root = tempRoot(prefix)
    SnapshotStore.upsert(spark, root,
      (0 until 40).map(k => (k, s"v$k")).toDF("id", "value").repartition(4),
      cfg, nBuckets = 4)
    root
  }

  test("each call opens each control file once: upsert, changes, delete " +
    "and compact read _LATEST, _META and each manifest version at most " +
    "once") {
    val root = fragmentedStore("graft_snap_opens")
    val conf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("fs.file.impl", "fs.file.impl.disable.cache")
    val was = keys.map(k => k -> Option(conf.get(k)))
    conf.set("fs.file.impl", classOf[OpenCountingFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    def opens(call: => Any): Map[String, Int] = {
      OpenCountingFileSystem.reset()
      call
      OpenCountingFileSystem.counts.collect {
        case (p, n) if p.startsWith(root + "/") &&
            Seq("_LATEST", "_META", "_MANIFEST").exists(p.endsWith) =>
          p.stripPrefix(root + "/") -> n
      }
    }
    val seen = try Seq(
      "upsert" -> opens(SnapshotStore.upsert(spark, root,
        Seq((1, "u")).toDF("id", "value"), cfg)),
      "changes" -> opens(SnapshotStore.changes(spark, root, 0L, 1L)),
      "delete" -> opens(SnapshotStore.delete(spark, root, Seq(2).toDF("id"))),
      "compact" -> opens(SnapshotStore.compact(spark, root)))
    finally was.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    seen.toMap shouldBe Map(
      "upsert" -> Map("_LATEST" -> 1, "_META" -> 1,
        "snapshot=0/_MANIFEST" -> 1),
      "changes" -> Map("_META" -> 1, "snapshot=0/_MANIFEST" -> 1,
        "snapshot=1/_MANIFEST" -> 1),
      "delete" -> Map("_LATEST" -> 1, "_META" -> 1,
        "snapshot=1/_MANIFEST" -> 1),
      "compact" -> Map("_LATEST" -> 1, "_META" -> 1,
        "snapshot=2/_MANIFEST" -> 1))
  }

  test("job counts per call are pinned on a fixed 4-bucket store: upsert, " +
    "changes, delete and compact") {
    val root = fragmentedStore("graft_snap_jobs")
    var rewritten = 0
    // an RDD-backed batch carries the default size estimate, as a JDBC
    // source's does: its measured row count still plans the slice's semi
    // join as a broadcast
    val unsized = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(org.apache.spark.sql.Row(3, "r"), org.apache.spark.sql.Row(60, "m"))),
      Seq((0, "")).toDF("id", "value").schema)
    val jobs = JobTap.count(spark.sparkContext) { phase =>
      phase("upsert")(SnapshotStore.upsert(spark, root,
        Seq((1, "u"), (50, "n")).toDF("id", "value"), cfg))
      phase("changes")(SnapshotStore.changes(spark, root, 0L, 1L).collect())
      phase("delete")(SnapshotStore.delete(spark, root, Seq(2).toDF("id")))
      rewritten = phase("compact")(SnapshotStore.compact(spark, root))
      phase("upsert unsized")(SnapshotStore.upsert(spark, root, unsized, cfg))
    }
    rewritten should be > 0
    jobs shouldBe Map("upsert" -> 7, "changes" -> 3, "delete" -> 2,
      "compact" -> 2, "upsert unsized" -> 7)
  }
}

object SnapshotStoreSpec {
  /** Evaluations of the moving-key batch in the evaluated-once test. */
  val batchEvaluations = new java.util.concurrent.atomic.AtomicInteger()
}
