package graft.sinks

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.core.{DriverEval, DriverKeys}

/** Durable target for [[InsertOrUpdate]] without a DBMS: a versioned,
  * BUCKET-INCREMENTAL parquet store with an atomically-swapped pointer.
  *
  * Layout:
  * {{{
  *   <root>/_LATEST                    committed version number
  *   <root>/_META                      store constants (bucket count)
  *   <root>/claim=N                    create-exclusive writer claim for version N
  *   <root>/snapshot=N/_MANIFEST       schema + {bucket -> version holding its data}
  *   <root>/snapshot=N/__bucket=B/     parquet for buckets REWRITTEN at version N
  * }}}
  *
  * Rows are assigned to one of `nBuckets` buckets by
  * `pmod(hash(discriminant), nBuckets)` (Murmur3 — deterministic across
  * sessions). An upsert merges ONLY the buckets containing update keys and
  * writes only those bucket directories; the new manifest points untouched
  * buckets at the older snapshot directories that already hold their data.
  * This is what makes the store hold at 100 TB: a small update batch costs
  * O(touched buckets) read+write, not O(table). Readers resolve the
  * pointer, read that version's manifest, and scan the referenced bucket
  * directories (a plain multi-path parquet scan; time-travel reads any
  * retained manifest the same way).
  *
  * Commit protocol: a writer first CLAIMS its target version by creating
  * `claim=N` with create-exclusive semantics — two concurrent writers that
  * both read version N−1 race on the claim and the loser fails with
  * [[ConcurrentWriteException]] instead of silently clobbering (claims for
  * committed versions are kept so a stale writer can never re-claim them).
  * The winner writes data + manifest, then commits by renaming a temp
  * pointer over `_LATEST` (rename is the atomic primitive on HDFS and
  * local filesystems; object stores without atomic create/rename need an
  * external lock). A crashed writer leaves an orphan claim + snapshot
  * directory and no pointer change — readers never see partial data, and
  * `vacuum` reclaims the orphans (do not run `vacuum` concurrently with a
  * live writer: it would reap the in-flight claim).
  *
  * This is the file-backend realization of the reference's "upsert into a
  * table" contract (writers.py:15-185): each `upsert` call is one merge
  * batch; re-running a batch converges (idempotence property of the
  * merge), which is the reference's at-least-once model.
  */
object SnapshotStore {

  private val pointerName = "_LATEST"
  private val metaName = "_META"
  private val manifestName = "_MANIFEST"
  private val bucketCol = "__bucket"

  /** Default bucket count — sized for tests/small stores; a 100 TB store
    * wants O(10k) buckets so one bucket is a few GB (set once at creation). */
  val DefaultBuckets = 16

  /** A second writer raced this one to the same version (lost-update guard). */
  final class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

  private final case class Manifest(schema: StructType, buckets: Map[Int, Long])

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A small control file's content, None when it does not exist — one
    * `open`, no separate existence probe. */
  private def readSmallFile(f: FileSystem, p: Path): Option[String] =
    try {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8")) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  private def writeSmallFile(f: FileSystem, p: Path, s: String,
                             overwrite: Boolean): Unit = {
    val out = f.create(p, overwrite)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  /** Committed snapshot version, if any. */
  def currentVersion(spark: SparkSession, root: String): Option[Long] =
    committedVersion(fs(spark, root), root)

  private def committedVersion(f: FileSystem, root: String): Option[Long] =
    readSmallFile(f, new Path(root, pointerName)).map(_.trim.toLong)

  private def readProps(f: FileSystem, root: String): Map[String, String] =
    readSmallFile(f, new Path(root, metaName)).fold(
      Map.empty[String, String])(_.linesIterator.flatMap { l =>
      l.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => Some(k.trim -> v.trim)
        case _ => None
      }
    }.toMap)

  private def writeProps(f: FileSystem, root: String,
                         props: Map[String, String]): Unit =
    // ATOMIC replace, not create(overwrite=true): the meta file carries
    // layout-load-bearing recordings (nBuckets, discriminant, clusterBy,
    // z-order model) for the WHOLE store, and an in-place truncate-then-
    // write crashing mid-way would leave it empty — the next upsert would
    // silently fall back to DefaultBuckets and skip the discriminant
    // check, hashing rows into wrong buckets. tmp + rename means a crash
    // leaves either the old recordings or the new, never a torn subset —
    // which is also what makes setProperties' multi-key atomicity claim
    // true.
    atomicReplaceSmallFile(f, root, metaName,
      props.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("", "\n", "\n"))

  /** Atomically replace a small control file (meta, pointer): write a tmp
    * sibling, then swap it over the target with the filesystem's atomic
    * rename. On `file:` filesystems Hadoop's OVERWRITE rename is emulated
    * non-atomically (delete-then-rename, plus a second rename for the
    * `.crc` sidecar — racing readers transiently see no file or a stale
    * checksum), so the local path goes through POSIX `rename(2)` via NIO
    * with no checksum sidecar (stale sidecars from older code are
    * removed); HDFS keeps its native atomic `FileContext` rename.
    *
    * The old-or-new guarantee holds only where rename IS an atomic
    * metadata swap: `file:` (POSIX rename(2)) and HDFS-compatible
    * filesystems (hdfs, viewfs, abfs). Object stores emulate rename as
    * copy+delete, under which racing readers could observe an absent or
    * torn pointer/meta — so those schemes are rejected loudly below
    * rather than silently weakening the protocol. */
  private val nonAtomicRenameSchemes: Set[String] =
    Set("s3", "s3a", "s3n", "gs", "oss", "cos", "cosn", "swift",
      "wasb", "wasbs")

  /** Whether [[atomicReplaceSmallFile]] can give its old-or-new
    * guarantee on this filesystem. Callers whose file is advisory rather
    * than load-bearing (e.g. the streaming ingest fence, whose torn
    * outcome is caught by a loud parse-and-recover path) use this to
    * fall back to a plain overwrite on object stores instead of
    * inheriting the control-file protocol's hard refusal. */
  private[graft] def atomicRenameCapable(f: FileSystem): Boolean =
    !nonAtomicRenameSchemes.contains(f.getScheme)

  /** The one ADVISORY small-file write discipline: tmp + atomic rename
    * where the filesystem swaps atomically ([[atomicReplaceSmallFile]]),
    * plain overwrite-create where it cannot — for files whose torn
    * outcome is caught by a loud parse-and-recover path rather than by
    * the control-file protocol's hard refusal (the streaming ingest
    * fence and its migration, the index calibration artifacts). One
    * helper so the fallback semantics cannot drift between the writers
    * that share a file format. */
  private[graft] def replaceSmallFilePreferAtomic(f: FileSystem,
                                                  root: String,
                                                  name: String,
                                                  content: String): Unit =
    if (atomicRenameCapable(f)) atomicReplaceSmallFile(f, root, name, content)
    else writeSmallFile(f, new Path(root, name), content, overwrite = true)

  private[graft] def atomicReplaceSmallFile(f: FileSystem, root: String,
                                            name: String,
                                            content: String): Unit = {
    val target = new Path(root, name)
    // UNIQUE tmp per call: a fixed sibling name would let two racing
    // replacers truncate each other's tmp mid-write — one could install
    // the other's bytes and strand the loser on a vanished file, an
    // exception path the old overwrite-in-place write never had. With a
    // unique name each writer renames its own complete bytes; racing
    // writers degrade to last-rename-wins, same as before. The leading
    // dot keeps a crashed call's leftover hidden from directory readers
    // (and the pointer-era fixed-name sidecars are still cleaned below).
    val tmpName = s".$name.tmp-${java.util.UUID.randomUUID().toString}"
    if (f.getScheme == "file") {
      val dir = java.nio.file.Paths.get(new Path(root).toUri.getPath)
      java.nio.file.Files.createDirectories(dir)
      val tmp = dir.resolve(tmpName)
      java.nio.file.Files.write(tmp, content.getBytes("UTF-8"))
      Seq(s".$name.crc", s".$name.tmp.crc").foreach(c =>
        java.nio.file.Files.deleteIfExists(dir.resolve(c)))
      java.nio.file.Files.move(tmp, dir.resolve(name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      // BREAKING vs pre-r17 behavior (which overwrote non-atomically):
      // deployments that know their object store is safe for this —
      // a consistent metadata layer in front of it, or a guaranteed
      // single reader — can acknowledge the trade explicitly instead
      // of losing the store (see README "object stores" note):
      //   spark.hadoop.graft.snapshot.allowNonAtomicControlFiles=true
      require(!nonAtomicRenameSchemes.contains(f.getScheme) ||
          f.getConf.getBoolean(
            "graft.snapshot.allowNonAtomicControlFiles", false),
        s"SnapshotStore control files require an atomic rename, which " +
          s"'${f.getScheme}' does not provide (object-store rename is " +
          "copy+delete; racing readers could see an absent or torn " +
          "pointer/meta). Host the store root on an HDFS-compatible " +
          "filesystem, front the object store with a consistent " +
          "metadata layer, or — acknowledging the torn-reader hazard — " +
          "set graft.snapshot.allowNonAtomicControlFiles=true in the " +
          "Hadoop conf.")
      val tmp = new Path(root, tmpName)
      writeSmallFile(f, tmp, content, overwrite = true)
      if (nonAtomicRenameSchemes.contains(f.getScheme)) {
        // acknowledged non-atomic deployment (opt-in above): there is no
        // atomicity to preserve, so use the plain FileSystem rename —
        // the FileContext API below would additionally require an
        // AbstractFileSystem binding object stores often lack
        f.delete(target, false)
        require(f.rename(tmp, target),
          s"rename $tmp -> $target failed on '${f.getScheme}'")
      } else {
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          target.toUri, f.getConf)
        fc.rename(f.makeQualified(tmp), f.makeQualified(target),
          org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      }
    }
  }

  /** Application-level store property (e.g. the signature width a
    * streaming dedup store was built with), kept in the same tiny meta
    * file as the bucket count. */
  def getProperty(spark: SparkSession, root: String, key: String): Option[String] =
    readProps(fs(spark, root), root).get(key)

  /** Set (or overwrite) an application-level store property, preserving
    * all other meta lines. A read-merge-write of a small file — callers
    * serialize writers the same way they do for `upsert`. */
  def setProperty(spark: SparkSession, root: String, key: String,
                  value: String): Unit =
    setProperties(spark, root, Map(key -> value))

  /** Set several properties in ONE meta-file write. Properties that must
    * stay mutually consistent (e.g. a z-order model and its bucket
    * granularity) go through this, not per-key [[setProperty]] calls: the
    * single small-file write means a crash leaves either all of them or
    * none, never a torn subset. */
  def setProperties(spark: SparkSession, root: String,
                    props: Map[String, String]): Unit = {
    val f = fs(spark, root)
    writeProps(f, root, readProps(f, root) ++ props)
  }

  /** Bucket count fixed at store creation (None until the first commit). */
  def numBuckets(spark: SparkSession, root: String): Option[Int] =
    getProperty(spark, root, "nBuckets").map(_.toInt)

  /** A comma-separated column list property; empty when absent. */
  private def columnsProp(props: Map[String, String], key: String): Seq[String] =
    props.get(key)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)

  /** Cluster columns fixed at store creation (empty when the store is
    * unclustered). Every rewrite path ([[upsert]], [[compact]]) keeps each
    * written file sorted by these columns — see the `clusterBy` doc on
    * [[upsert]]. */
  def clusterColumns(spark: SparkSession, root: String): Seq[String] =
    columnsProp(readProps(fs(spark, root), root), "clusterBy")

  /** Discriminant (merge-key) columns recorded at store creation. Bucket
    * assignment hashes these columns, so they are a PHYSICAL-LAYOUT
    * property exactly like `nBuckets`: an upsert with a different
    * discriminant would probe the wrong buckets and silently duplicate
    * keys across buckets (the stored row lives in hash(keyA)'s bucket,
    * the update lands in hash(keyB)'s). [[upsert]] therefore validates
    * its config against this recording and fails loudly on a mismatch.
    * Empty only for a store whose recording is missing; [[upsert]],
    * [[delete]] and [[changes]] refuse such a store. */
  def discriminantColumns(spark: SparkSession, root: String): Seq[String] =
    columnsProp(readProps(fs(spark, root), root), "discriminant")

  /** The recorded discriminant; every path that hashes or joins on the
    * merge key refuses a store without one rather than guess it. */
  private def requireDiscriminant(root: String,
                                  props: Map[String, String]): Seq[String] = {
    val disc = columnsProp(props, "discriminant")
    require(disc.nonEmpty,
      s"store at $root has no recorded discriminant — bucket assignment " +
        "hashes it, so record the merge key first: setProperty(spark, " +
        "root, \"discriminant\", \"<comma-separated key columns>\")")
    disc
  }

  private def bucketExpr(disc: Seq[Column], nBuckets: Int): Column =
    pmod(hash(disc: _*), lit(nBuckets))

  // ------------------------------------------------------------- manifests

  private def manifestPath(root: String, version: Long) =
    new Path(s"$root/snapshot=$version", manifestName)

  private def writeManifest(f: FileSystem, root: String, version: Long,
                            m: Manifest): Unit = {
    val body = (s"schema=${m.schema.toDDL}" +:
      m.buckets.toSeq.sorted.map { case (b, v) => s"bucket=$b version=$v" })
      .mkString("\n")
    writeSmallFile(f, manifestPath(root, version), body, overwrite = false)
  }

  /** The manifest of `version`; a version without one fails loudly,
    * naming the missing file. */
  private def readManifest(f: FileSystem, root: String,
                           version: Long): Manifest = {
    val p = manifestPath(root, version)
    val lines = readSmallFile(f, p).getOrElse(throw
      new IllegalArgumentException(s"snapshot=$version of $root has no " +
        s"$manifestName ($p) — either the version never committed, " +
        "vacuum() reclaimed it (raise `keep` to cover the slowest " +
        "reader's or change-feed consumer's lag), or it was not written " +
        "in the bucketed-manifest format")).linesIterator.toSeq
    val schema = lines.collectFirst { case l if l.startsWith("schema=") =>
      StructType.fromDDL(l.stripPrefix("schema=")) }
      .getOrElse(throw new IllegalStateException(
        s"manifest for snapshot=$version has no schema line"))
    val buckets = lines.collect { case l if l.startsWith("bucket=") =>
      val Array(b, v) = l.stripPrefix("bucket=").split(" version=")
      b.trim.toInt -> v.trim.toLong
    }.toMap
    Manifest(schema, buckets)
  }

  /** A store's control files as one call sees them, each read once: the
    * properties, and the committed version with its manifest (`head`,
    * None before the first commit). */
  private final case class Opened(f: FileSystem, root: String,
                                  props: Map[String, String],
                                  head: Option[(Long, Manifest)]) {
    def committed: (Long, Manifest) = head.getOrElse(throw
      new IllegalArgumentException(s"store at $root has no committed version"))
    def nBuckets: Option[Int] = props.get("nBuckets").map(_.toInt)
    def cluster: Seq[String] = columnsProp(props, "clusterBy")
  }

  private def open(spark: SparkSession, root: String): Opened = {
    val f = fs(spark, root)
    Opened(f, root, readProps(f, root),
      committedVersion(f, root).map(v => v -> readManifest(f, root, v)))
  }

  private def bucketPath(root: String, version: Long, bucket: Int): String =
    s"$root/snapshot=$version/$bucketCol=$bucket"

  /** An empty frame the optimizer KNOWS is empty (a local relation, not an
    * empty RDD): a merge against it loses its join at plan time, so the
    * write keeps the batch's own partitioning instead of depending on
    * whether AQE saw the empty side before the batch's shuffle finished. */
  private def emptyFrame(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)

  private def readBuckets(spark: SparkSession, root: String, m: Manifest,
                          only: Option[Set[Int]]): DataFrame = {
    val entries = only.fold(m.buckets)(s => m.buckets.view.filterKeys(s).toMap)
    if (entries.isEmpty) emptyFrame(spark, m.schema)
    else {
      val paths = entries.toSeq.sorted.map { case (b, v) => bucketPath(root, v, b) }
      spark.read.schema(m.schema).parquet(paths: _*)
    }
  }

  /** `buckets` (non-empty) of `m` WITH their `__bucket` column, the input
    * of the whole-bucket rewrites ([[compact]], [[rewrite]]): one
    * basePath-anchored multi-path read per HOLDING VERSION, so the plan is
    * O(referenced versions) legs, not a bucket-count-deep union of
    * per-bucket relations (thousands of serial footer/listing reads). */
  private def readHeld(spark: SparkSession, root: String, m: Manifest,
                       buckets: Set[Int]): DataFrame =
    buckets.toSeq.groupBy(m.buckets).toSeq.sortBy(_._1)
      .map { case (ver, bs) =>
        spark.read.schema(m.schema)
          .option("basePath", s"$root/snapshot=$ver")
          .parquet(bs.sorted.map(b => bucketPath(root, ver, b)): _*)
      }.reduce(_ unionByName _)
      // the recovered partition column's type follows
      // spark.sql.sources.partitionColumnTypeInference (StringType when
      // disabled); pin it so repartition/partitionBy always see the
      // IntegerType the manifest records, independent of session config
      .withColumn(bucketCol, col(bucketCol).cast("int"))

  // ----------------------------------------------------------------- reads

  /** Read the committed snapshot (None if the store is empty).
    *
    * READER-vs-VACUUM contract: the returned DataFrame scans the bucket
    * directories its manifest referenced at RESOLUTION time. A
    * concurrent [[vacuum]] never reclaims the version the pointer
    * commits to — but a reader can hold a resolution STALE (the store
    * advanced and vacuum dropped its version mid-scan), and then its
    * next action fails LOUDLY (missing file/path errors: absent inputs
    * are errors, not skips, under Spark's default
    * `spark.sql.files.ignoreMissingFiles=false`) — it can never return
    * silently partial rows. The failure is retryable: call `read` again
    * to re-resolve the committed pointer. Pinned live in
    * SnapshotStoreSpec's reader-vs-vacuum race. */
  def read(spark: SparkSession, root: String): Option[DataFrame] =
    currentVersion(spark, root).map(readVersion(spark, root, _))

  /** Time-travel read of any retained version: resolve that version's
    * manifest, scan the bucket directories it references (which may live in
    * older `snapshot=` directories — that sharing is the incrementality).
    * A version without a manifest fails loudly. Carries [[read]]'s
    * reader-vs-vacuum contract: a `vacuum` that reclaims THIS version
    * makes actions on the returned DataFrame fail loudly, never return
    * partial rows — time-travel readers lagging behind the vacuum horizon
    * must retry against a retained version. */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame =
    readBuckets(spark, root, readManifest(fs(spark, root), root, version), None)

  /** Versions whose manifests are still retained — readable for time
    * travel and usable as [[changes]] endpoints — ascending, up to the
    * committed version. A driver-side directory listing, no data scan.
    * What [[vacuum]] has not reclaimed; consumers that must not miss a
    * version window (audit backfill, lagging change feeds) enumerate
    * this BEFORE vacuuming. */
  def retainedVersions(spark: SparkSession, root: String): Seq[Long] = {
    val f = fs(spark, root)
    committedVersion(f, root).fold(Seq.empty[Long]) { current =>
      f.listStatus(new Path(root)).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith("snapshot=") =>
          n.stripPrefix("snapshot=").toLong }
        .filter(v => v <= current && f.exists(manifestPath(root, v)))
        .sorted
    }
  }

  /** Bucket ids the committed manifest references — empty when the store
    * has no committed version. A driver-side metadata read, no data
    * scan. */
  def manifestBucketIds(spark: SparkSession, root: String): Set[Int] =
    open(spark, root).head.fold(Set.empty[Int])(_._2.buckets.keySet)

  /** Pruned read of ONLY the given buckets of the committed version — the
    * primitive behind bucket-SAMPLED health gauges
    * ([[graft.operators.Layout.zOrderDriftStats]]): bucket membership is
    * `hash(discriminant)`, independent of every other column, so a
    * deterministic bucket subset is an unbiased row sample and a
    * ratio-shaped statistic computed over it (occupancy skew, null rates)
    * estimates the full-store value at `|buckets|/nBuckets` of the scan
    * cost. Ids absent from the manifest are ignored (a bucket can be
    * empty). */
  def readBucketSubset(spark: SparkSession, root: String,
                       buckets: Set[Int]): DataFrame =
    readBuckets(spark, root, open(spark, root).committed._2, Some(buckets))

  // ----------------------------------------------------------- change feed

  /** Both endpoint manifests of a change-feed window (change-feed reads
    * need BOTH; `vacuum(keep=N)` bounds how far back a consumer may lag). */
  private def endpoints(f: FileSystem, root: String, fromVersion: Long,
                        toVersion: Long): (Manifest, Manifest) = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion must be <= toVersion $toVersion")
    (readManifest(f, root, fromVersion), readManifest(f, root, toVersion))
  }

  /** Bucket-granular change feed: the buckets whose data location moved
    * between two committed versions, straight from the manifest diff — a
    * driver-side metadata read, no data scan. This is the coarse feed an
    * incremental downstream job keys its recomputation on (re-derive only
    * partitions fed by these buckets). Includes buckets [[compact]]
    * rewrote without changing content (their location moved; the
    * row-level [[changes]] diff of such a bucket is empty). */
  def changedBuckets(spark: SparkSession, root: String,
                     fromVersion: Long, toVersion: Long): Set[Int] = {
    val (mFrom, mTo) = endpoints(fs(spark, root), root, fromVersion, toVersion)
    diffBucketIds(mFrom.buckets, mTo.buckets)
  }

  /** Manifest-diff kernel for [[changedBuckets]]: the UNION of both
    * manifests' bucket ids, filtered to those whose data location
    * differs — so a bucket present at `from` but absent at `to`
    * (whole-bucket removal, produced when [[delete]] empties a bucket)
    * reports as changed and its rows classify `delete`, instead of
    * silently vanishing from a to-side-only iteration. */
  private[graft] def diffBucketIds(from: Map[Int, Long],
                                   to: Map[Int, Long]): Set[Int] =
    (from.keySet ++ to.keySet).filter(b => from.get(b) != to.get(b))

  /** Row-level change-data feed between two committed versions: the NET
    * difference of the stored state, classified per discriminant key as
    * `insert` (key absent at `fromVersion`), `update` (present at both
    * with any column differing — post-image values), or `delete` (absent
    * at `toVersion` — produced by [[delete]]; delete rows carry their
    * PRE-image values, there being no post-image). Output schema: the
    * store's columns plus a `_change_type` string.
    *
    * Scale shape — this is the point of the operator: the manifest diff
    * names exactly the buckets that were rewritten in the interval, and
    * BOTH sides of the diff read only those buckets
    * ([[readBuckets]] with the changed set), so bytes scanned are
    * proportional to the churned fraction of the store, not its size —
    * a 0.1%-churn day on a 100 TB store diffs ~2 × 100 GB, where a naive
    * `post.except(pre)` reads 200 TB. The single exchange is the key join
    * over the changed buckets' rows. Unchanged rows carried along by a
    * bucket rewrite (an upsert rewrites whole buckets) join equal and are
    * dropped, so feed SIZE is the true row churn even though feed BYTES
    * are bucket-granular.
    *
    * NET semantics across multi-version windows: a row updated and then
    * reverted within (from, to] compares equal and is absent from the
    * feed; intermediate states are not reconstructed (the store keeps
    * state snapshots, not a commit log). Consumers needing per-commit
    * granularity walk (v, v+1) pairs, bounded by vacuum retention. */
  def changes(spark: SparkSession, root: String,
              fromVersion: Long, toVersion: Long): DataFrame = {
    val f = fs(spark, root)
    val keys = requireDiscriminant(root, readProps(f, root))
    val (mFrom, mTo) = endpoints(f, root, fromVersion, toVersion)
    require(mFrom.schema == mTo.schema,
      s"schema changed between snapshot=$fromVersion and snapshot=$toVersion")
    val changed = diffBucketIds(mFrom.buckets, mTo.buckets)
    val pre = readBuckets(spark, root, mFrom, Some(changed))
    val post = readBuckets(spark, root, mTo, Some(changed))
    val dataCols = mTo.schema.fieldNames.toSeq
    val preS = pre.select(
      keys.map(col) :+ struct(dataCols.map(col): _*).as("__pre"): _*)
    val postS = post.select(
      keys.map(col) :+ struct(dataCols.map(col): _*).as("__post"): _*)
    // keys are unique per committed snapshot (the upsert merge's contract),
    // so the full-outer key join is 1:1; <=> compares the full row structs
    // null-safely, classifying carried-along unchanged rows out of the feed
    val picked = coalesce(col("__post"), col("__pre"))
    preS.join(postS, keys, "full_outer")
      .withColumn("_change_type",
        when(col("__pre").isNull, lit("insert"))
          .when(col("__post").isNull, lit("delete"))
          .when(!(col("__pre") <=> col("__post")), lit("update")))
      .filter(col("_change_type").isNotNull)
      .select(dataCols.map(c => picked.getField(c).as(c)) :+
        col("_change_type"): _*)
  }

  // ---------------------------------------------------------------- vacuum

  /** Reclaim space while preserving the `keep` most recent committed
    * versions (always including the committed one). Removal is
    * (version, bucket)-granular: a bucket directory in an old snapshot
    * survives as long as ANY retained manifest still references it; only
    * unreferenced bucket directories, dropped versions' manifests, and
    * orphans ABOVE the committed version (crashed writers — full-size data
    * that would otherwise leak forever) are deleted. On a store with NO
    * committed version, everything on disk is a crashed first writer's
    * leftovers and is reclaimed (this is also how a wedged `claim=0` from
    * a failed first commit is recovered). Returns the versions whose
    * readability was removed this call. Single-process only — do not run
    * concurrently with a writer.
    *
    * Concurrent READERS are safe in [[read]]'s no-silent-partial sense: the
    * committed version is always retained, and a reader whose resolved
    * version this call reclaims fails LOUDLY and re-resolves. Size `keep`
    * to cover the slowest reader's/change-feed consumer's lag. */
  def vacuum(spark: SparkSession, root: String, keep: Int = 2): Seq[Long] = {
    val f = fs(spark, root)
    if (!f.exists(new Path(root))) return Seq.empty
    val currentOpt = committedVersion(f, root)
    val current = currentOpt.getOrElse(-1L)
    val names = f.listStatus(new Path(root)).toSeq.map(_.getPath.getName)
    val versions = names
      .collect { case n if n.startsWith("snapshot=") => n.stripPrefix("snapshot=").toLong }
      .sorted
    // a version is readable through its manifest. Versions already
    // vacuumed (manifest gone) are shells, not candidates — without this,
    // raising `keep` after a vacuum would try to read a deleted manifest
    val readableOld = versions
      .filter(v => v <= current && f.exists(manifestPath(root, v)))
    val retained = (readableOld.takeRight(keep.max(1)) ++ currentOpt).distinct
    // every (version, bucket) still referenced by a retained manifest
    val live: Set[(Long, Int)] = retained
      .filter(readableOld.contains)
      .flatMap { v =>
        // .toSeq FIRST: swapping the pairs of the Map itself rebuilds a
        // MAP keyed by version, collapsing all buckets that share a holding
        // version to ONE entry, and vacuum deleted the others while live
        readManifest(f, root, v).buckets.toSeq
          .map { case (b, ver) => (ver, b) }
      }.toSet
    val orphans = versions.filter(_ > current)
    val droppedOld = readableOld.filterNot(retained.contains)
    orphans.foreach(v => f.delete(new Path(root, s"snapshot=$v"), true))
    // every dropped version, and previously-vacuumed shells, loses its
    // manifest and any bucket data nothing points at
    versions.filter(v => v <= current && !retained.contains(v)).foreach { v =>
      f.delete(manifestPath(root, v), false)
      var remaining = 0
      f.listStatus(new Path(root, s"snapshot=$v")).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith(s"$bucketCol=")) {
          if (!live((v, n.stripPrefix(s"$bucketCol=").toInt)))
            f.delete(st.getPath, true)
          else remaining += 1
        } else
          // stray non-bucket files (markers): only manifests share data
          // across versions, so nothing references them once the version
          // is dropped
          f.delete(st.getPath, true)
      }
      // `remaining` counts the still-live bucket dirs left behind, so the
      // emptiness check needs no second listing
      if (remaining == 0)
        f.delete(new Path(root, s"snapshot=$v"), true)
    }
    // crashed writers' claims above the committed version (claims <= current
    // are kept: they are what stops a stale writer re-claiming a committed
    // version)
    names.collect { case n if n.startsWith("claim=") => n.stripPrefix("claim=").toLong }
      .filter(_ > current)
      .foreach(v => f.delete(new Path(root, s"claim=$v"), false))
    (droppedOld ++ orphans).sorted
  }

  // --------------------------------------------------------------- compact

  /** Rewrite the live version's FRAGMENTED buckets — bucket directories
    * holding more than `maxFilesPerBucket` parquet files — into one file
    * each, committed as a new snapshot under the same claim + manifest +
    * atomic-pointer protocol as [[upsert]]. Incremental upserts fragment
    * buckets because each merge writes its bucket through the shuffle's
    * partitioning (up to `spark.sql.shuffle.partitions` files per touched
    * bucket per version); a long-lived store degrades into many small
    * files per bucket, which taxes every read's file listing and scan
    * setup. `vacuum` reclaims dead VERSIONS; compact reclaims
    * fragmentation inside the live one.
    *
    * Untouched buckets keep their existing (version, directory) reference
    * in the new manifest — compaction is O(fragmented buckets), not
    * O(table). Readers are never disturbed: they resolve the old pointer
    * (and its intact manifest) until the atomic rename publishes the new
    * version, and time travel to prior versions keeps working until
    * `vacuum` drops them. A crashed compactor leaves an orphan claim +
    * snapshot above the committed pointer — exactly the leftovers
    * `vacuum` already reclaims. Do not run concurrently with a writer
    * (the claim makes the race fail loudly, not silently).
    *
    * Returns the number of buckets rewritten (0 = no committed version or
    * store already compact — nothing claimed, no version consumed). */
  def compact(spark: SparkSession, root: String,
              maxFilesPerBucket: Int = 1): Int = {
    require(maxFilesPerBucket >= 1, "maxFilesPerBucket must be >= 1")
    val s = open(spark, root)
    if (s.head.isEmpty) return 0
    val (v, m) = s.committed
    // one RECURSIVE listing per referenced snapshot directory instead of a
    // listStatus per bucket: at the documented O(10k)-bucket sizing the
    // per-bucket probe is thousands of serial driver round-trips on every
    // invocation (including no-op ones); grouped listing is O(versions)
    val filesPerBucket: Map[(Long, Int), Int] = m.buckets.values.toSet
      .flatMap { (ver: Long) =>
        val counts = scala.collection.mutable.Map.empty[(Long, Int), Int]
        val it = s.f.listFiles(new Path(root, s"snapshot=$ver"), true)
        while (it.hasNext) {
          val st = it.next()
          val name = st.getPath.getName
          val dir = st.getPath.getParent.getName
          if (st.isFile && !name.startsWith("_") && !name.startsWith(".") &&
              dir.startsWith(s"$bucketCol=")) {
            val key = (ver, dir.stripPrefix(s"$bucketCol=").toInt)
            counts(key) = counts.getOrElse(key, 0) + 1
          }
        }
        counts
      }.toMap
    val frag = m.buckets.filter { case (b, ver) =>
      filesPerBucket.getOrElse((ver, b), 0) > maxFilesPerBucket
    }.keySet
    if (frag.isEmpty) return 0
    // repartition on the bucket column sends each bucket to exactly one
    // task, so each rewritten directory holds ONE file — on a clustered
    // store a FULLY sorted one, which also repairs the overlapping
    // per-file ranges multi-task upserts leave behind
    commit(s.f, root, v + 1,
      readHeld(spark, root, m, frag).repartition(col(bucketCol)),
      m.schema, s.cluster, m.buckets -- frag)
    frag.size
  }

  /** Full-store rewrite commit: read every bucket of the current version,
    * apply `transform`, and commit the result as a new version in which
    * every bucket is rewritten — [[compact]]'s machinery with a row
    * transform, for maintenance that must change STORED column values
    * (e.g. re-ranking a persisted layout column against a refitted model,
    * [[graft.operators.Layout.zOrderMaintain]]). Versioned like any
    * commit: old versions stay readable, [[vacuum]] applies.
    *
    * Contract on `transform`: schema-preserving (same columns, same
    * types — checked) and bucket-preserving (it must not change
    * discriminant column values — bucket membership is their hash; not
    * checkable without a second shuffle, so it is a stated requirement).
    * The `__bucket` partition column rides through the transform; leave
    * it untouched. Row-DROPPING transforms are legal (delete-shaped
    * maintenance): the committed manifest records only the bucket
    * directories the write actually produced, so an emptied bucket
    * drops out rather than leaving a dangling path. Rows whose
    * transformed values differ WILL appear as updates in the row-level
    * [[changes]] feed across the rewrite — a stored column changed, so
    * that is the truthful feed.
    *
    * Cost: one full read + one full clustered write (the point of a
    * maintenance rewrite); one exchange on the bucket column so each
    * bucket lands fully sorted in one file, like [[compact]]. */
  def rewrite(spark: SparkSession, root: String,
              transform: DataFrame => DataFrame): Long = {
    val s = open(spark, root)
    val (v, m) = s.committed
    // an emptied-out store (delete() can remove every bucket) has nothing
    // to transform: no-op, no version burn
    if (m.buckets.isEmpty) return v
    val held = readHeld(spark, root, m, m.buckets.keySet)
    val transformed = transform(held)
    require(transformed.columns.sorted.toSeq == held.columns.sorted.toSeq,
      "rewrite transform must preserve the store's columns (got " +
        s"${transformed.columns.mkString(",")}, expected " +
        s"${held.columns.mkString(",")})")
    m.schema.fields.foreach { fld =>
      require(transformed.schema(fld.name).dataType == fld.dataType,
        s"rewrite transform changed the type of '${fld.name}' " +
          s"(${transformed.schema(fld.name).dataType} != ${fld.dataType})")
    }
    commit(s.f, root, v + 1, transformed.repartition(col(bucketCol)),
      m.schema, s.cluster, Map.empty)
    v + 1
  }

  /** Key-granular removal: commit a new version with every row whose
    * discriminant key appears in `keys` deleted — the right-to-be-
    * forgotten / opt-out primitive a training-data store needs, and the
    * write path that makes the change feed's `delete` classification
    * reachable (whole-bucket removals exercise [[diffBucketIds]]' union
    * diff).
    *
    * Scale shape, mirroring [[upsert]]: the keys hash to their buckets
    * (the same conform-to-stored-types discipline — Murmur3 of an INT is
    * not Murmur3 of a BIGINT), ONLY those buckets are read, and only the
    * ones holding victims are rewritten; untouched buckets keep their
    * manifest location. A 1k-key opt-out against a 100 TB store costs
    * O(touched buckets), not O(table). A bucket whose rows are ALL deleted
    * drops out of the manifest entirely. Deleting keys that match nothing
    * commits nothing and returns 0 (no claim, no version burn).
    *
    * `keys` is evaluated ONCE: the victims' count, their buckets and the
    * rewrite all read that one evaluation, so a nondeterministic input
    * (limit/sample) cannot let victims outside the touched set survive
    * while the count claimed them. On a one-column integer-valued
    * discriminant ([[graft.core.DriverKeys.holds]]) a batch of at most
    * [[graft.core.DriverKeys.MaxKeys]] rows is held on the driver as a
    * literal key set: its buckets are hashed on the driver, one collect of
    * the matching rows' buckets gives the count and the buckets to
    * rewrite, and the rewrite keeps the rows outside the set (a stored
    * null key stays, as in the join) — two jobs, with no key relation
    * materialized, broadcast or shuffled. A larger batch, or any other
    * discriminant, is checkpointed once (its buckets observed by the
    * checkpointing job) and semi/anti-joined. Both paths store the same
    * rows (SnapshotStoreSpec). A held-type batch over the gate that is
    * not a local relation is computed twice: the bounded collect reads
    * up to MaxKeys + 1 of its rows and finds it too large, then the
    * checkpoint evaluates it in full; only the checkpoint feeds the
    * delete, so the cost is paid twice and the result stays consistent.
    *
    * `keys` must carry the recorded discriminant columns; extra columns
    * are ignored. Returns the number of rows removed. Versioned like any
    * commit: time-travel still reads the pre-delete versions until
    * [[vacuum]] reclaims them — an opt-out pipeline that must FORGET the
    * bytes follows the delete with `vacuum(keep = 1)`. */
  def delete(spark: SparkSession, root: String, keys: DataFrame): Long =
    deleteGated(spark, root, keys)

  /** [[delete]] with its key gate as a parameter: tests and the
    * `delete_gate` sweep pin either path with it (`driverKeys = 0` takes
    * the join plan); callers keep [[graft.core.DriverKeys.MaxKeys]]. */
  private[graft] def deleteGated(spark: SparkSession, root: String,
                                 keys: DataFrame,
                                 driverKeys: Int = DriverKeys.MaxKeys): Long = {
    val s = open(spark, root)
    val (v, m) = s.committed
    val disc = requireDiscriminant(root, s.props)
    disc.foreach(c => require(keys.columns.contains(c),
      s"keys must carry discriminant column '$c'"))
    val buckets = s.nBuckets.getOrElse(DefaultBuckets)
    // conform key types to STORED types before hashing or matching:
    // bucket assignment hashes the stored type, and an unconformed key
    // would probe the wrong bucket and silently delete nothing
    val stored = disc.map(c => m.schema.fields.find(_.name == c)
      .getOrElse(throw new IllegalArgumentException(
        s"discriminant '$c' is not a stored column")).dataType)
    val discCols = disc.map(col)
    val held = (disc, stored) match {
      case (Seq(c), Seq(t)) => DriverKeys.collect(keys, c, t, driverKeys)
      case _ => None
    }
    val located = held match {
      case Some(keyRows) =>
        val keyBuckets = DriverEval.localFrame(spark, keyRows,
            StructType(Seq(StructField(disc.head, stored.head))))
          .select(bucketExpr(discCols, buckets)).collect().map(_.getInt(0))
          .toSet.intersect(m.buckets.keySet)
        if (keyBuckets.isEmpty) return 0L
        val keyIn = coalesce(DriverKeys.in(discCols.head, stored.head, keyRows),
          lit(false))
        val victims = readBuckets(spark, root, m, Some(keyBuckets))
          .filter(keyIn).select(bucketExpr(discCols, buckets)).collect()
          .map(_.getInt(0))
        val touched = victims.toSet
        (victims.length.toLong, touched,
          readBuckets(spark, root, m, Some(touched)).filter(!keyIn))
      case None =>
        // the key relation feeds two jobs (semi count, anti rewrite):
        // materialized once, its buckets observed by the materializing job
        val conformed = keys.select(disc.zip(stored).map { case (c, t) =>
          col(c).cast(t).as(c) }: _*).distinct()
        val (k, seen) = checkpointObserving(conformed,
          collect_set(bucketExpr(discCols, buckets)).as(bucketCol))
        val touched = seen.getSeq[Int](0).toSet.intersect(m.buckets.keySet)
        if (touched.isEmpty) return 0L
        val target = readBuckets(spark, root, m, Some(touched))
        (target.join(k, disc, "left_semi").count(), touched,
          target.join(k, disc, "left_anti"))
    }
    val (nDel, touched, survivors) = located
    if (nDel == 0L) return 0L
    // touched buckets that produced no surviving rows are NOT re-added:
    // the manifest forgets them (whole-bucket removal)
    commit(s.f, root, v + 1,
      survivors.withColumn(bucketCol, bucketExpr(discCols, buckets)),
      m.schema, s.cluster, m.buckets -- touched)
    nDel
  }

  // ---------------------------------------------------------------- upsert

  /** Merge `updates` into the store and commit a new snapshot, rewriting
    * ONLY the buckets that contain update keys. Returns the merge result
    * with `target` re-pointed at the COMMITTED snapshot and
    * `written`/`errors` eagerly materialized (localCheckpoint) — a lazy
    * result would re-run the merge against the old snapshot on every
    * action, disagreeing with what was committed (wall-clock stamps) and
    * breaking outright once `vacuum` removes the old version. With the
    * default `current_timestamp()` clock, `written`'s stamps come from its
    * own materialization pass; pass a fixed `cfg.clock` when exact stamp
    * equality between snapshot and written-rows output matters.
    *
    * `updates` is evaluated ONCE (eager localCheckpoint of the batch
    * conformed to the stored types — bounded: about |batch| rows, the
    * same order `written` holds): the touched-bucket set is observed by
    * that materializing job, and the merge write and both result frames
    * read the materialization. A
    * nondeterministic input (a live JDBC source, limit/sample, a
    * nondeterministic expression) re-evaluated per job would
    * desynchronize them — a key that moved between evaluations would be
    * written to a bucket the touched set never read, and the manifest
    * would point that bucket at a directory holding only the moved row,
    * silently dropping the bucket's stored rows. The full outer merge over
    * the touched buckets runs once, for the write; `written`/`errors` come
    * from a merge of the batch-keyed slice (touched target rows
    * left-semi-joined to the batch keys on the same plain `=`): every row
    * of either output carries a batch key, so they are row for row the
    * full merge's, at O(batch) instead of O(touched buckets).
    *
    * `nBuckets` applies only when the store is created by this call; an
    * existing store keeps its recorded bucket count (store properties are
    * written only by the creating commit). The touched-bucket set
    * is collected to the driver, but it is bounded by `nBuckets`, not by
    * the data.
    *
    * `clusterBy` (creation-time, persisted like `nBuckets`) declares a
    * DATA-LAYOUT clustering: every file any rewrite path writes is sorted
    * by these columns, so parquet's row-group/page min-max statistics
    * turn a pushed range predicate into file skipping instead of a full
    * bucket scan — at 100 TB widths the difference between reading one
    * row group and reading the table (the public `OPTIMIZE ... ZORDER` /
    * `SORTED BY` layout lever, in its single-dimension form). Cost is one
    * LOCAL sort per written partition (no extra exchange — measured in
    * SCALEPROBE `snapshot_cluster`); reads are unchanged and results are
    * row-identical (clustering is physical layout only). A multi-task
    * upsert leaves overlapping ranges across a bucket's files;
    * [[compact]] re-sorts each bucket into one fully-sorted file.
    *
    * BREAK-EVEN (measured, SCALEPROBE `snapshot_cluster`, 5M rows,
    * local[32]): the clustered write costs ~1.6× the unclustered one,
    * and scans pay off only when predicates are SELECTIVE on the
    * cluster column — ~1.6× faster at 1% selectivity, parity at 10%
    * and at full scans. Cluster a store its consumers will slice
    * narrowly and repeatedly; do NOT cluster one that is scanned wide —
    * you pay the write premium on every upsert and win nothing back.
    * (Local page-cached numbers understate the 1%-slice win at
    * storage-bandwidth-bound scale, but the shape — narrow slices pay,
    * wide scans don't — is the decision rule.)
    */
  def upsert(spark: SparkSession, root: String, updates: DataFrame,
             cfg: UpsertConfig = UpsertConfig(),
             nBuckets: Int = DefaultBuckets,
             clusterBy: Seq[String] = Nil): MergeResult = {
    require(nBuckets > 0, "nBuckets must be positive")
    require(clusterBy.forall(c => c.nonEmpty && !c.contains(",")),
      "clusterBy column names must be non-empty and comma-free")
    require(cfg.discriminant.nonEmpty &&
      cfg.discriminant.forall(c => c.nonEmpty && !c.contains(",")),
      "discriminant column names must be non-empty and comma-free")
    val s = open(spark, root)
    val buckets = s.nBuckets.getOrElse(nBuckets)

    // Conform the batch to the STORED column types up front (the DB
    // analog: inserting into a typed table coerces values to the columns'
    // types). This is load-bearing twice over: (a) bucket assignment must
    // hash stored types — Murmur3 hash(5: INT) != hash(5L: BIGINT), so an
    // unconformed batch would probe the wrong buckets; (b) the merge's
    // CaseWhen otherwise WIDENS output types (INT target + BIGINT update →
    // BIGINT column), and a widened write would both hash rows into
    // buckets the touched set never read AND silently rewrite the store
    // schema in the new manifest.
    val conformed = s.head.fold(updates) { case (_, m) =>
      updates.columns.foldLeft(updates) { (d, c) =>
        m.schema.fields.find(_.name == c) match {
          case Some(fld) if fld.dataType != d.schema(c).dataType =>
            d.withColumn(c, col(c).cast(fld.dataType))
          case _ => d
        }
      }
    }
    // Materialized ONCE (see the evaluated-once contract above): every job
    // below reads this checkpoint, never the caller's lineage. The touched
    // bucket set and the batch's row count are observed by the
    // materializing job itself, from the very rows the later jobs read,
    // so they cost no job of their own.
    val (u, seen) = checkpointObserving(conformed,
      collect_set(bucketExpr(cfg.discriminant.map(col), buckets)).as(bucketCol),
      count(lit(1)).as("__rows"))
    val touched: Set[Int] = seen.getSeq[Int](0).toSet
    // the checkpoint inherits its upstream's size estimate (a JDBC source's
    // is the default, far above any broadcast threshold), so the planner
    // would shuffle both sides of the slice's semi join; the measured row
    // count plans the batch keys as the broadcast side they are
    val batchKeys = u.select(cfg.discriminant.map(col): _*)
    val sliceKeys =
      if (seen.getLong(1) <= graft.core.BroadcastGate.MaxRows)
        broadcast(batchKeys)
      else batchKeys

    // merge sees only the touched buckets' rows — the pruned multi-path
    // scan is what makes a small batch O(touched), not O(table)
    val target = s.head.fold(emptyFrame(spark, u.schema)) { case (_, m) =>
      readBuckets(spark, root, m, Some(touched))
    }

    // the full merge only supplies the new bucket contents: its errors are
    // the slice's, so the errorsAsData = false fail-fast check runs once,
    // in the slice's merge (still before any claim)
    val merged = InsertOrUpdate.merge(target, u, cfg.copy(errorsAsData = true))
      .target
    // `written`/`errors` from the batch-keyed slice
    val sliced = InsertOrUpdate.merge(
      target.join(sliceKeys, cfg.discriminant, "left_semi"), u, cfg)
    // an existing store's recorded clustering and discriminant win
    // (creation-time, like nBuckets); validate BEFORE claiming the version
    // so a typo fails without leaving a stale claim behind
    val cluster: Seq[String] = if (s.head.isDefined) s.cluster else clusterBy
    if (s.head.isDefined) {
      // a conflicting layout request on an existing store fails LOUDLY —
      // silently dropping it would hand the caller unclustered (or
      // differently-clustered) files while they believe clusterBy held
      // (same discipline as Layout.zOrderUpsert's model-mismatch check)
      require(clusterBy.isEmpty || clusterBy == cluster,
        s"store at $root records clusterBy=" +
          s"${if (cluster.isEmpty) "(none)" else cluster.mkString(",")} " +
          s"but this upsert requested ${clusterBy.mkString(",")}; the " +
          "recorded creation-time layout wins — re-create the store to " +
          "change it")
      // bucket assignment hashes the discriminant: an upsert with a
      // different key set would probe the wrong buckets and silently
      // duplicate keys across buckets
      val recordedDisc = requireDiscriminant(root, s.props)
      require(cfg.discriminant == recordedDisc,
        s"store at $root records discriminant=${recordedDisc.mkString(",")} " +
          s"but this upsert used ${cfg.discriminant.mkString(",")}; the " +
          "recorded creation-time merge key wins — re-create the store to " +
          "change it")
    }
    cluster.foreach(c => require(merged.columns.contains(c),
      s"clusterBy column '$c' is not a stored column"))

    // manifest: untouched buckets keep their old location; touched buckets
    // point here when they produced data (a touched bucket can end empty
    // when every row in it was a prohibited insert). Store properties are
    // written only by the creating commit, merged over application
    // properties set before it.
    val (kept, next) = s.head.fold((Map.empty[Int, Long], 0L)) {
      case (v, m) => (m.buckets -- touched, v + 1)
    }
    val committed = commit(s.f, root, next,
      merged.withColumn(bucketCol,
        bucketExpr(cfg.discriminant.map(col), buckets)),
      merged.schema, cluster, kept,
      createProps = if (s.head.isDefined) None else Some(s.props +
        ("nBuckets" -> buckets.toString) +
        ("discriminant" -> cfg.discriminant.mkString(",")) ++
        (if (cluster.nonEmpty) Map("clusterBy" -> cluster.mkString(","))
         else Map.empty)))
    MergeResult(
      target = readBuckets(spark, root, committed, None),
      written = sliced.written.localCheckpoint(true),
      errors = sliced.errors.localCheckpoint(true))
  }

  /** `df` materialized once (eager localCheckpoint), with `metrics`
    * observed by the materializing job itself: no job of their own. The
    * metrics row is read from the checkpoint's own query execution, whose
    * accumulators are complete when the eager checkpoint returns. */
  private def checkpointObserving(df: DataFrame,
                                  metrics: Column*): (DataFrame, Row) = {
    val name = "__graft_checkpoint"
    val observed = df.observe(name, metrics.head, metrics.tail: _*)
    val cp = observed.localCheckpoint(true)
    (cp, observed.queryExecution.observedMetrics(name))
  }

  /** The one commit sequence every writer shares, after all validation:
    * claim `next`; write `rows` (carrying the `__bucket` column) one
    * directory per bucket, each file sorted by `cluster` when the store
    * is clustered; record a manifest that keeps `kept` and points every
    * bucket the write produced at `next`; write `createProps` when this
    * commit creates the store; publish with the atomic pointer swap.
    * Returns the committed manifest. */
  private def commit(f: FileSystem, root: String, next: Long, rows: DataFrame,
                     schema: StructType, cluster: Seq[String],
                     kept: Map[Int, Long],
                     createProps: Option[Map[String, String]] = None
                    ): Manifest = {
    claim(f, root, next)
    val arranged =
      if (cluster.isEmpty) rows
      // local sort only — partitionBy splits each task's (bucket, ...)-
      // sorted stream into per-bucket files that stay sorted by the
      // cluster columns; no extra exchange
      else rows.sortWithinPartitions((bucketCol +: cluster).map(col): _*)
    arranged
      .write.mode("overwrite").partitionBy(bucketCol)
      .parquet(s"$root/snapshot=$next")
    // manifest from the directories the write ACTUALLY produced — a
    // bucket whose rows were all removed (delete, a row-dropping rewrite,
    // prohibited inserts) has none, and a manifest entry pointing at an
    // unwritten directory would make every later read throw on a missing
    // path
    val written = f.listStatus(new Path(root, s"snapshot=$next")).toSeq
      .map(_.getPath.getName)
      .collect { case n if n.startsWith(s"$bucketCol=") =>
        n.stripPrefix(s"$bucketCol=").toInt -> next }
    val m = Manifest(schema, kept ++ written)
    writeManifest(f, root, next, m)
    createProps.foreach(writeProps(f, root, _))
    commitPointer(f, root, next)
    m
  }

  /** Create-exclusive claim on `version`: exactly one writer can ever hold
    * it, so concurrent writers serialize instead of overwriting each other.
    *
    * The primitive must be ATOMIC create-if-absent. HDFS's `create(p,
    * overwrite = false)` is; Hadoop's LocalFileSystem merely EMULATES it
    * with a non-atomic exists-then-create, so two same-box writers racing
    * the claim could BOTH pass the check, both "win", and silently
    * double-commit one version (caught by the racing-write-pairs spec).
    * For `file:` filesystems the claim therefore goes through POSIX
    * `O_CREAT|O_EXCL` (NIO `Files.createFile`), the real primitive. */
  private def claim(f: FileSystem, root: String, version: Long): Unit = {
    val p = new Path(root, s"claim=$version")
    def lost(): Nothing = throw new ConcurrentWriteException(
      s"another writer already claimed snapshot $version of $root " +
        s"(claim file $p exists); re-read and retry. If this is a crashed " +
        "writer's leftover above the committed version, vacuum() reclaims it.")
    try {
      if (f.getScheme == "file") {
        val local = java.nio.file.Paths.get(p.toUri.getPath)
        // a first-ever claim can precede the store directory itself
        java.nio.file.Files.createDirectories(local.getParent)
        java.nio.file.Files.createFile(local)
      } else {
        val out = f.create(p, false)
        out.close()
      }
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => lost()
      case _: java.io.IOException if f.exists(p) => lost()
    }
  }

  // the atomic swap is what makes the pointer commit safe: racing readers
  // see the old version or the new, never an absent or torn pointer (the
  // local-FS hazards are documented on atomicReplaceSmallFile — both were
  // observed as reader failures in the racing-writers spec before it)
  private def commitPointer(f: FileSystem, root: String,
                            version: Long): Unit =
    atomicReplaceSmallFile(f, root, pointerName, version.toString)
}
