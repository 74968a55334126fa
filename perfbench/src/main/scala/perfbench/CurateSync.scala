package perfbench

import java.nio.file.Path
import java.sql.{Connection, DriverManager}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.functions._

import graft.api.{Dedup, JdbcBackend, JdbcEngine, JdbcUpsert, Operation, Select, SelectConfig, SnapshotStore, UpsertConfig}
import graft.functions.{TextFunctions => T}
import graft.sources.JdbcPartitioning

/** `curate_sync`: the reference's own path, Select from a SQL database and
  * upsert into a store, with the corpus-curation operators in between.
  * Embedded in-memory Derby stands in for the database; the store is a
  * bucketed `SnapshotStore` holding the curated corpus.
  *
  * One op is one sync batch of documents the generator changed: a
  * range-partitioned JDBC read, a quality filter, exact dedup, MinHash-LSH
  * near-duplicate pairs and the cluster drop, a merge of the survivors into
  * the store with a fixed clock, the change feed of that merge, and an
  * update-only `JdbcUpsert` that acknowledges the batch in the database,
  * then the store's upkeep: a delete of a few keys, `compact` and `vacuum`.
  * Every op does the same steps, so the op count a run reaches does not
  * change what its median measures.
  *
  * A batch holds new documents, text updates that favour the most recent
  * documents, and planted rejects: exact copies and near copies (2 of 80
  * words changed) of the batch's new documents, and low-quality documents.
  * The generator keeps a model of the table, so each op checks that exactly
  * the planted rejects were dropped, that the change feed's keys and kinds
  * equal the model's, and that the whole batch was acknowledged; the run
  * ends by comparing the whole store with the model. */
final class CurateSync(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._

  private val baseDocs = if (ctx.small) 4000 else 10000
  private val words = 80
  /** Per batch: new documents, updates, and planted rejects. */
  private val (nNew, nUpdate, nExact, nNear, nJunk) =
    if (ctx.small) (120, 60, 6, 14, 2) else (240, 120, 12, 28, 4)
  private val batch = nNew + nUpdate + nExact + nNear + nJunk
  /** Updates draw 90 % of their keys from the newest tenth of the table. */
  private val recentShare = 0.1
  private val deleteBatch = 20
  private val clock = Some(lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00")))
  private val cfg = UpsertConfig(discriminant = Seq("ID"), clock = clock)

  private var rng: Random = _
  private val url = "jdbc:derby:memory:perfbench;create=true"
  private val engine =
    JdbcEngine(url, driver = "org.apache.derby.jdbc.EmbeddedDriver")
  private var root: String = _
  private var conn: Connection = _
  /** The model: ID -> TEXT of every document in the store. */
  private val model = mutable.HashMap.empty[Long, String]
  private val keys = mutable.ArrayBuffer.empty[Long]
  private var nextId = 0L
  private var seq = 0L
  private var expected = 0L
  private var returned = 0L
  private var upserts = Seq.empty[Disk.Usage]
  private var touched = Seq.empty[Double]

  override val kernels: Seq[String] =
    Seq("WordShingleExpr", "MinHashSigExpr", "ImageDHashExpr")

  def setup(dir: Path): Unit = {
    rng = new Random(ctx.seed)
    Class.forName(engine.driver)
    conn = DriverManager.getConnection(url)
    root = dir.resolve("store").toString
    val base = ctx.bench("generate") {
      exec("CREATE TABLE DOCS (ID BIGINT PRIMARY KEY, TEXT VARCHAR(8000), " +
        "SEQ BIGINT, ACK BIGINT)")
      exec("CREATE INDEX DOCS_SEQ ON DOCS (SEQ)")
      val rows = (0 until baseDocs).map(_ => newDoc(Gen.text(rng, words)))
      write(rows, update = false)
      rows.foreach { case (id, text) => model(id) = text; keys += id }
      // the base store is the table as of sequence 0, loaded from the
      // generator's rows: a JDBC read of the whole table would dominate
      // set-up
      rows.toDF("ID", "TEXT").repartition(4)
    }
    ctx.trace.span("SnapshotStore.upsert")(
      SnapshotStore.upsert(spark, root, base, cfg))
    // warm-up: two syncs, discarded
    sync(); sync()
    expected = 0L; returned = 0L; upserts = Nil; touched = Nil
  }

  private def exec(sql: String): Unit = {
    val s = conn.createStatement()
    try s.execute(sql) finally s.close()
  }

  private def newDoc(text: String): (Long, String) = {
    nextId += 1
    (nextId - 1, text)
  }

  /** Inserts or updates rows in Derby at the current sequence number. */
  private def write(rows: Seq[(Long, String)], update: Boolean): Unit = {
    val sql =
      if (update) "UPDATE DOCS SET TEXT = ?, SEQ = ? WHERE ID = ?"
      else "INSERT INTO DOCS (TEXT, SEQ, ID, ACK) VALUES (?, ?, ?, 0)"
    conn.setAutoCommit(false)
    val ps = conn.prepareStatement(sql)
    try {
      rows.foreach { case (id, text) =>
        ps.setString(1, text); ps.setLong(2, seq); ps.setLong(3, id)
        ps.addBatch()
      }
      ps.executeBatch()
      conn.commit()
    } finally { ps.close(); conn.setAutoCommit(true) }
  }

  /** What one batch should do to the store. */
  private final case class Expect(inserted: Set[Long], updated: Set[Long],
                                  rejected: Set[Long])

  /** Changes one batch in Derby and in the model. */
  private def change(): Expect = {
    seq += 1
    val fresh = (0 until nNew).map(_ => newDoc(Gen.text(rng, words)))
    val originals = rng.shuffle(fresh.toVector).take(nExact + nNear)
    val rejects = originals.take(nExact).map { case (_, t) =>
        newDoc(Gen.exactCopy(t)) } ++
      originals.drop(nExact).map { case (_, t) =>
        newDoc(Gen.nearCopy(rng, t, 2)) } ++
      (0 until nJunk).map(_ => newDoc(Gen.junk(rng)))
    val recent = math.max(1, (keys.size * recentShare).toInt)
    val upd = mutable.LinkedHashSet.empty[Long]
    while (upd.size < nUpdate) {
      val i =
        if (rng.nextDouble() < 0.9) keys.size - 1 - rng.nextInt(recent)
        else rng.nextInt(keys.size)
      upd += keys(i)
    }
    val updates = upd.toSeq.map(id => (id, Gen.text(rng, words)))
    write(updates, update = true)
    write(fresh ++ rejects, update = false)
    (fresh ++ updates).foreach { case (id, text) => model(id) = text }
    keys ++= fresh.map(_._1)
    Expect(fresh.map(_._1).toSet, upd.toSet, rejects.map(_._1).toSet)
  }

  /** The range-partitioned JDBC read of one sequence number's rows. */
  private def read(s: Long) = Select.run(spark, JdbcBackend(engine),
    SelectConfig(s"SELECT ID, TEXT FROM DOCS WHERE SEQ = $s",
      partition = Some(JdbcPartitioning("ID", 0L, nextId, 4))))

  private def sync(): OpRecord = {
    val exp = ctx.bench("generate")(change())
    val s = seq
    val t0 = System.nanoTime()
    var upsertS = 0.0
    val (feed, acked) = ctx.trace.span(s"${Trace.OpPrefix}sync") {
      val rows = ctx.trace.span("Select.jdbc") {
        val df = read(s).localCheckpoint(true)
        ctx.trace.items(batch.toLong)
        df
      }
      val kept = rows.filter(T.qualityScore(col("TEXT")) >= 0.5)
      val exact = ctx.trace.span("Dedup.exactByFingerprint.construct")(
        Dedup.exactByFingerprint(kept, "TEXT", "ID"))
      val pairs = ctx.trace.span("Dedup.minHashLsh.construct")(
        Dedup.minHashLsh(exact, "TEXT", "ID"))
      val survivors = ctx.trace.span("Dedup.dropNearDuplicates.construct")(
        Dedup.dropNearDuplicates(exact, "ID", pairs))
      val u0 = System.nanoTime()
      ctx.trace.span("SnapshotStore.upsert")(
        SnapshotStore.upsert(spark, root, survivors, cfg))
      upsertS = (System.nanoTime() - u0) / 1e9
      val v = SnapshotStore.currentVersion(spark, root).get
      val feed = ctx.trace.span("SnapshotStore.changes") {
        touched :+= SnapshotStore.changedBuckets(spark, root, v - 1, v).size
          .toDouble / SnapshotStore.numBuckets(spark, root)
            .getOrElse(SnapshotStore.DefaultBuckets)
        SnapshotStore.changes(spark, root, v - 1, v)
          .select("ID", "_change_type").as[(Long, String)].collect()
      }
      if (ctx.trace.isEnabled)
        ctx.bench("check")(upserts :+= Disk.usage(s"$root/snapshot=$v"))
      val prohibited = ctx.trace.span("JdbcUpsert.write") {
        ctx.trace.items(batch.toLong)
        JdbcUpsert.write(rows.select(col("ID"), lit(s).as("ACK")), engine,
          "DOCS", cfg.copy(allowedOperations = Set(Operation.Update)))
      }
      upkeep()
      (feed, batch - prohibited)
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    val failure = ctx.bench("check")(check(feed, acked, exp))
    OpRecord("op", seconds, batch.toLong, Seq(upsertS), failure)
  }

  /** The store's upkeep after each sync: an opt-out delete of a few keys,
    * compaction and vacuum. */
  private def upkeep(): Unit = {
    val victims = Seq.fill(deleteBatch)(keys(rng.nextInt(keys.size))).distinct
    val n = ctx.trace.span("SnapshotStore.delete")(
      SnapshotStore.delete(spark, root, victims.toDF("ID")))
    require(n == victims.size,
      s"SnapshotStore.delete removed $n of ${victims.size} keys")
    victims.foreach(model.remove)
    keys --= victims
    ctx.bench("generate")(
      exec(s"DELETE FROM DOCS WHERE ID IN (${victims.mkString(",")})"))
    ctx.trace.span("SnapshotStore.compact")(SnapshotStore.compact(spark, root))
    ctx.trace.span("SnapshotStore.vacuum")(SnapshotStore.vacuum(spark, root))
  }

  private def check(feed: Array[(Long, String)], acked: Long,
                    exp: Expect): Option[String] = {
    val want = exp.inserted.map(_ -> "insert") ++ exp.updated.map(_ -> "update")
    val got = feed.toSet
    expected += want.size + exp.rejected.size
    returned += (got & want).size + (exp.rejected -- got.map(_._1)).size
    val leaked = got.map(_._1) & exp.rejected
    if (leaked.nonEmpty)
      Some(s"curate_sync: ${leaked.size} planted rejects reached the store")
    else if (got != want || feed.length != want.size)
      Some(s"curate_sync: change feed has ${feed.length} rows, model ${want.size}; " +
        s"${(got -- want).size} unexpected, ${(want -- got).size} missing")
    else if (acked != batch)
      Some(s"curate_sync: acknowledged $acked of $batch rows")
    else None
  }

  def step(i: Int): OpRecord = sync()

  def finalCheck(): Option[String] = {
    val stored = SnapshotStore.read(spark, root).get
      .select("ID", "TEXT").as[(Long, String)].collect()
    val wrong = stored.count { case (id, t) => !model.get(id).contains(t) }
    if (stored.length != model.size || wrong > 0)
      Some(s"curate_sync: store holds ${stored.length} rows, model ${model.size}; " +
        s"$wrong differ")
    else None
  }

  /** Share of the exact answer the ops returned: expected change-feed rows
    * (surviving new documents and updates) reported, plus planted rejects
    * kept out of the store. */
  def recall: Double = if (expected == 0) 0.0 else returned.toDouble / expected

  /** Measured after a final `vacuum(keep = 1)`: the bytes of the live
    * version only, since the history a vacuum keeps depends on which
    * buckets the last deletes happened to touch. */
  def storeBytesPerRow: Double = {
    SnapshotStore.vacuum(spark, root, keep = 1)
    Disk.usage(root).bytes.toDouble / math.max(1, model.size)
  }

  override def layerExtras: Map[String, Double] = Map(
    "SnapshotStore.upsert.bytes_written" -> Stats.median(upserts.map(_.bytes.toDouble)),
    "SnapshotStore.upsert.files_written" -> Stats.median(upserts.map(_.files.toDouble)),
    "SnapshotStore.upsert.buckets_touched_frac" -> Stats.median(touched))
}
