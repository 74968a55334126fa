package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.storage.StorageLevel

import graft.functions.{HashFunctions => H, TextFunctions => T}
import graft.sinks.{SnapshotStore, UpsertConfig}

/** Stateful streaming building blocks beyond windowed aggregation.
  *
  * The reference engine is an unbounded arrival-order push stream whose
  * only state is the write buffer (SURVEY.md §2.3 "Streaming"); these are
  * the Structured-Streaming-native equivalents a large pipeline needs.
  */
object StreamOps {

  /** Null-distinguishing, separator-proof composite group key for the
    * TTL dedup variants: each key column encodes as `n` for NULL vs
    * `v<base64(bytes)>` for a value — base64's alphabet excludes the `|`
    * joiner, so neither a NULL in a different position ((null,"x") vs
    * ("x",null)) nor a value containing the joiner ("a|b" vs "a","b")
    * can collide. A bare `concat_ws` SKIPS nulls and admits both
    * collisions — silent wrongful suppression of a distinct key.
    *
    * BINARY key columns are base64'd directly: routing them through a
    * string cast would collapse invalid-UTF-8 byte sequences to
    * replacement characters, letting distinct binary keys collide (the
    * batch operators group such keys byte-exactly). STRUCT/MAP/ARRAY key
    * columns are rejected — their string casts are display forms, not
    * injective encodings — encode upstream (`to_json`, a hash) instead. */
  private def nullSafeKey(df: DataFrame, keyCols: Seq[String]) =
    concat_ws("|", keyCols.map { c =>
      val enc = df.schema(c).dataType match {
        case org.apache.spark.sql.types.BinaryType => base64(col(c))
        case _: org.apache.spark.sql.types.StructType |
             _: org.apache.spark.sql.types.MapType |
             _: org.apache.spark.sql.types.ArrayType =>
          throw new IllegalArgumentException(
            s"key column '$c' has a nested type " +
              s"(${df.schema(c).dataType.simpleString}) whose string form " +
              "is not an injective encoding; encode it upstream " +
              "(to_json, xxhash64) and key on that")
        case _ => base64(encode(col(c).cast("string"), "UTF-8"))
      }
      coalesce(concat(lit("v"), enc), lit("n"))
    }: _*)

  /** Streaming exact dedup: drop rows whose `keys` were already seen
    * within the watermark window, with state bounded by the watermark
    * (older keys are evicted — late duplicates beyond `delay` pass
    * through, the standard trade-off). Deduplicates on the KEYS alone:
    * redelivered events with jittered timestamps — the normal
    * at-least-once case — are still dropped. */
  def dedupeStream(df: DataFrame, keys: Seq[String], tsCol: String,
                   delay: String): DataFrame =
    df.withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Custom keyed streaming state via `mapGroupsWithState` — the extension
    * point for semantics the built-in stateful operators can't express
    * (session_window, dropDuplicates and windowed aggs cover the common
    * cases; this is the escape hatch the north-star plan reserves for
    * custom state). Maintains a running (count, sum) per key across
    * micro-batches. Input: (key, value) pairs; output one row per key per
    * batch with the accumulated totals. */
  def runningTotals(pairs: org.apache.spark.sql.Dataset[(Long, Double)])
      : org.apache.spark.sql.Dataset[(Long, Long, Double)] = {
    import org.apache.spark.sql.streaming.GroupState
    import pairs.sparkSession.implicits._
    pairs
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), (Long, Long, Double)] {
        (key: Long, rows: Iterator[(Long, Double)],
         state: GroupState[(Long, Double)]) =>
          val (n0, s0) = state.getOption.getOrElse((0L, 0.0))
          var n = n0
          var s = s0
          rows.foreach { case (_, v) => n += 1; s += v }
          state.update((n, s))
          (key, n, s)
      }
  }

  /** Streaming first-occurrence-wins dedup with PROCESSING-TIME TTL state:
    * the first row of each key passes, later rows are suppressed while the
    * key's state is fresh, and state evicts `ttlMs` after the key was last
    * seen (sliding TTL) — the at-least-once-ingestion dedup shape when
    * events carry NO usable event-time column (otherwise prefer
    * [[dedupeStream]], whose watermark bound is deterministic).
    * "First" is the first row the group's iterator yields: arrival order
    * within a source partition, but ARBITRARY across partitions (the
    * groupByKey exchange does not preserve a global order) — which
    * duplicate's payload survives is as nondeterministic as processing
    * time itself; the event-time variant below picks deterministically.
    * `flatMapGroupsWithState` + `GroupStateTimeout.ProcessingTimeTimeout`:
    * state is one boolean per live key, evicted by the state store itself,
    * so memory is bounded by keys-per-TTL-window, not stream length.
    *
    * Eviction happens at the first trigger AFTER expiry: a duplicate
    * arriving in the very trigger its key would expire is still suppressed
    * (conservative — a late duplicate is dropped rather than re-admitted).
    * Rows pass through TYPED, via the input schema's Row encoder — no
    * serialization format in the middle, so every column type (binary,
    * maps with non-string keys, nested structs) round-trips exactly.
    *
    * RUN WITH AN EXPLICIT TRIGGER INTERVAL (`Trigger.ProcessingTime`):
    * with a processing-time timeout registered, Structured Streaming
    * re-triggers batches even with no new data so expiries can fire — under
    * the default 0 ms trigger that is a busy loop of empty micro-batches.
    * An interval of roughly the TTL's granularity bounds the idle cost. */
  def dedupeKeysWithTTL(stream: DataFrame, keyCols: Seq[String],
                        ttlMs: Long): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.{Encoders, Row}
    require(keyCols.nonEmpty, "at least one key column")
    require(ttlMs > 0, "ttlMs must be positive")
    val spark = stream.sparkSession
    import spark.implicits._
    val rowEnc = Encoders.row(stream.schema)
    // tuple-encoder field resolution is by the _1/_2 names, so alias to them
    val keyed = stream.select(
        nullSafeKey(stream, keyCols).as("_1"),
        struct(stream.columns.map(col): _*).as("_2"))
      .as(Encoders.tuple(Encoders.STRING, rowEnc))
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[Boolean, Row](
        OutputMode.Append, GroupStateTimeout.ProcessingTimeTimeout) {
        (_: String, rows: Iterator[(String, Row)],
         state: GroupState[Boolean]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val fresh = !state.exists
            state.update(true)
            state.setTimeoutDuration(ttlMs)
            if (fresh) rows.take(1).map(_._2) else Iterator.empty
          }
      }(Encoders.scalaBoolean, rowEnc)
      .toDF()
  }

  /** EVENT-TIME variant of [[dedupeKeysWithTTL]]: the TTL is measured on
    * the stream's own `tsCol` against the watermark, not on wall-clock
    * trigger times — the right shape when events DO carry an event-time
    * column. Within an admission window the sighting with the MINIMAL
    * event time in its batch wins (deterministic under shuffle
    * reordering, up to equal-timestamp ties); every sighting of the key —
    * kept or suppressed — can only EXTEND the key's expiry (to the max of
    * the standing expiry and the sighting's event-time + `ttlMs`: sliding
    * TTL, and an out-of-order older sighting never shrinks the window);
    * state evicts once the watermark passes the expiry, after which the
    * key is admitted again.
    *
    * Determinism is the point: eviction depends only on the data's own
    * timestamps and the watermark `delay`, so a test (or a backfill rerun)
    * sees identical keep/suppress decisions regardless of trigger timing
    * — no explicit-trigger-interval caveat. Rows later than the watermark
    * are dropped by the engine before they reach the state function (the
    * standard late-data policy; choose `delay` accordingly). Rows whose
    * `tsCol` is NULL or unparseable pass through UNSUPPRESSED and touch
    * no state — they have no position on the event-time timeline (filter
    * upstream to drop them instead). Expiry
    * timestamps are clamped above the current watermark — EventTimeTimeout
    * rejects timestamps at or behind it, and an on-time row whose short
    * TTL already ended relative to the watermark would otherwise register
    * an illegal expiry. The watermark is applied HERE; pass the raw
    * stream. */
  def dedupeKeysWithTTLEventTime(stream: DataFrame, keyCols: Seq[String],
                                 tsCol: String, delay: String,
                                 ttlMs: Long): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.{Encoders, Row}
    require(keyCols.nonEmpty, "at least one key column")
    require(ttlMs > 0, "ttlMs must be positive")
    val spark = stream.sparkSession
    import spark.implicits._
    val rowEnc = Encoders.row(stream.schema)
    // watermark goes on the PROJECTED timestamp (_2): a cast after
    // withWatermark would strip the watermark metadata from the attribute
    // the state operator sees, failing the unsupported-operation check
    // a row with no parseable event time has no position on the
    // event-time timeline: it passes through unsuppressed and touches no
    // state (the sketch paths' nothing-to-collide-on contract; filter
    // upstream to drop instead) — left in the stateful branch it would
    // NPE on ts.getTime and crash-loop the query from the checkpoint
    val ts = col(tsCol).cast("timestamp")
    val noTime = stream.filter(ts.isNull)
    val keyed = stream.filter(ts.isNotNull)
      .select(
        nullSafeKey(stream, keyCols).as("_1"),
        ts.as("_2"),
        struct(stream.columns.map(col): _*).as("_3"))
      .withWatermark("_2", delay)
      .as(Encoders.tuple(Encoders.STRING, Encoders.TIMESTAMP, rowEnc))
    keyed.groupByKey(_._1)
      .flatMapGroupsWithState[Long, Row](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[(String, java.sql.Timestamp, Row)],
         state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // a key whose stored expiry is already behind the watermark is
            // expired even if its timeout sweep hasn't run yet (data
            // arriving for a key defers its timeout callback) — treating
            // it as fresh makes re-admission a pure function of event
            // times and the delay, not of trigger interleaving
            val wm = state.getCurrentWatermarkMs()
            val fresh = !state.exists || state.get <= wm
            // one pass: remember the MINIMAL-event-time row (the keeper —
            // deterministic under shuffle reordering, unlike "first seen")
            // and the max event time (the sliding-TTL anchor) without
            // buffering the group
            var keeper: Row = null
            var minTs = Long.MaxValue
            var maxTs = Long.MinValue
            rows.foreach { case (_, ts, row) =>
              val t = ts.getTime
              if (t < minTs) { minTs = t; keeper = row }
              if (t > maxTs) maxTs = t
            }
            // the expiry only ever EXTENDS: an out-of-order suppressed
            // sighting (ts below the key's latest) must not shrink the
            // stored expiry and re-admit a duplicate early — take the max
            // with the standing state (an expired prior is <= wm and
            // cannot win)
            val prior = if (state.exists) state.get else Long.MinValue
            val expiry = math.max(math.max(prior, maxTs + ttlMs), wm + 1)
            state.update(expiry)
            state.setTimeoutTimestamp(expiry)
            if (fresh && keeper != null) Iterator.single(keeper)
            else Iterator.empty
          }
      }(Encoders.scalaLong, rowEnc)
      .toDF()
      .unionByName(noTime)
  }

  /** Watermarked stream-stream interval join: match each left event to
    * right events of the same `key` whose timestamp lies in
    * [left.ts − before, left.ts + after]. Both sides carry watermarks so
    * the join state is BOUNDED — buffered rows are evicted once the
    * watermark passes their interval, which is the property that keeps an
    * unbounded two-stream join runnable forever (an unconstrained
    * stream-stream join accumulates state without limit). Column names are
    * prefixed `l_`/`r_` to keep the joined schema unambiguous. */
  def intervalJoin(leftStream: DataFrame, rightStream: DataFrame, key: String,
                   tsCol: String, delay: String,
                   before: String, after: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.operators.Joins.prefixed
    val l = prefixed(leftStream, "l_").withWatermark(s"l_$tsCol", delay)
    val r = prefixed(rightStream, "r_").withWatermark(s"r_$tsCol", delay)
    l.join(r,
      col(s"l_$key") === col(s"r_$key") &&
        col(s"r_$tsCol") >= col(s"l_$tsCol") - expr(s"INTERVAL $before") &&
        col(s"r_$tsCol") <= col(s"l_$tsCol") + expr(s"INTERVAL $after"))
  }

  /** Streaming exact corpus dedup with DURABLE cross-batch state: each
    * micro-batch is fingerprinted (md5 of whitespace-normalized text —
    * [[graft.operators.Dedup.exactByFingerprint]]'s key), deduplicated
    * within the batch (minimum `idCol` per fingerprint survives), anti-
    * joined against the fingerprints of every document retained in ANY
    * previous batch, and the survivors are (a) handed to `emit` and
    * (b) their fingerprints upserted into a [[SnapshotStore]] at
    * `storeRoot`.
    *
    * Unlike [[dedupeStream]] (watermark-bounded state, duplicates beyond
    * the delay pass through), this state never expires — the unbounded-
    * corpus curation shape — and stays bounded in SIZE because only the
    * 32-byte fingerprint + id per retained document is stored, never the
    * text. The per-batch cost is one shuffled anti join on fingerprints
    * against the store (bucket-incremental on write; a batch touches only
    * the buckets its new fingerprints hash into). The store also survives
    * query restarts — state durability is the store's crash-safety, not
    * the checkpoint's. Documents with a NULL `textCol` (null fingerprint)
    * are always kept and never stored — nothing to collide on, the same
    * contract the sketch paths document. */
  def dedupeExactAgainstStore(stream: DataFrame, textCol: String, idCol: String,
                              storeRoot: String)(
      emit: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      val spark = batch.sparkSession
      val fp = batch.withColumn("__fp", T.fingerprint(col(textCol)))
      // a NULL text has a NULL fingerprint: nothing to collide on, so it
      // is always kept and never stored (the sketch paths' documented
      // contract) — left in the dedup it would collapse ALL null-text
      // docs into one window group and upsert a null discriminant the
      // merge's equality join can never match again
      val nullFp = fp.filter(col("__fp").isNull)
      // in-batch dedup: the batch-local half of the cross-batch contract
      val unique = graft.operators.Dedup.exact(
        fp.filter(col("__fp").isNotNull), Seq("__fp"), idCol)
      val fresh = SnapshotStore.read(spark, storeRoot) match {
        case Some(seen) =>
          unique.join(seen.select(col("fp").as("__fp")), Seq("__fp"), "left_anti")
        case None => unique
      }
      // consumed twice (emit + state update); compute the joins once
      val survivors = fresh.persist(StorageLevel.MEMORY_AND_DISK)
      emit(survivors.drop("__fp").unionByName(nullFp.drop("__fp")), epoch)
      SnapshotStore.upsert(spark, storeRoot,
        survivors.select(col("__fp").as("fp"), col(idCol)),
        UpsertConfig(discriminant = Seq("fp")))
      survivors.unpersist()
      ()
    }.start()

  /** Streaming NEAR-duplicate dedup with durable bounded state: per batch,
    * each document gets a scan-side MinHash signature
    * ([[graft.functions.MinHashSigExpr]] via `H.minHash`); LSH band keys
    * generate candidates against (a) the signatures of all previously
    * retained documents (read from the [[SnapshotStore]]) and (b) smaller-
    * id documents of the same batch; candidates verify on the signature
    * agreement fraction (the unbiased MinHash estimate of Jaccard) ≥
    * `threshold`. Survivors are emitted and their signatures upserted.
    *
    * State is `numHashes` longs + id per retained document — bounded and
    * text-free, so the state table stays a vanishing fraction of corpus
    * size; shingles are never stored (exact re-verification would need the
    * text, which an unbounded stream cannot keep). Estimate-based
    * verification is the price of bounded streaming state; the batch
    * operators ([[graft.operators.Dedup.minHashLsh]]) verify exactly.
    *
    * Within a batch, a document is suppressed when it verifies against ANY
    * smaller-id batch document (whether or not that one itself survives) —
    * a conservative approximation of one-at-a-time arrival-order
    * processing; a chain A≈B≈C with A̸≈C also drops C. Documents with no
    * shingles (null signature) are always kept and never stored — they
    * have nothing to collide on. */
  def dedupeNearAgainstStore(stream: DataFrame, textCol: String, idCol: String,
                             storeRoot: String, shingleSize: Int = 3,
                             numHashes: Int = 64, bands: Int = 16,
                             threshold: Double = 0.5,
                             maxBucket: Int = 10000)(
      emit: (DataFrame, Long) => Unit): StreamingQuery = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    // Guard against a numHashes config change: zip_with against a
    // different signature width pads with nulls, silently capping the
    // agreement fraction — near-dups of everything previously retained
    // would pass through, and mixed-width rows would make the corruption
    // permanent. The width is persisted as a store property (`sigWidth`)
    // and re-validated on EVERY batch before writing — a tiny meta-file
    // read, not a store scan — so a store first created or rewritten by
    // another writer after this query was constructed is still caught.
    // Legacy stores written before the property existed get one O(store)
    // row-width scan here, then carry the property forward.
    def checkSigWidth(spark: org.apache.spark.sql.SparkSession): Unit =
      SnapshotStore.getProperty(spark, storeRoot, "sigWidth") match {
        case Some(w) => require(w.toInt == numHashes,
          s"store at $storeRoot was built with signature width $w but this " +
            s"query uses numHashes=$numHashes — rebuild the store or match " +
            "the config")
        case None =>
          SnapshotStore.read(spark, storeRoot).foreach { st =>
            require(st.filter(size(col("sig")) =!= numHashes).limit(1).count() == 0,
              s"store at $storeRoot holds signatures whose width differs " +
                s"from numHashes=$numHashes — rebuild the store or match the config")
          }
          SnapshotStore.setProperty(spark, storeRoot, "sigWidth",
            numHashes.toString)
      }
    checkSigWidth(stream.sparkSession)
    // signature agreement fraction = E[Jaccard]; both sides' signatures
    // use the same hash family so componentwise equality is meaningful
    dedupeSketchAgainstStore(stream, idCol, storeRoot,
      sketch = H.minHash(H.wordShingles(T.tokens(lower(col(textCol))), shingleSize),
        numHashes),
      bandsOf = sig => H.lshBands(sig, bands, rowsPerBand),
      verify = (bsig, osig) => aggregate(
        zip_with(bsig, osig, (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, x) => acc + x).cast("double") / numHashes >= threshold,
      stateCol = "sig", maxBucket = maxBucket,
      perBatchCheck = checkSigWidth)(emit)
  }

  /** Shared skeleton of the durable sketch-dedup paths
    * ([[dedupeNearAgainstStore]], [[dedupeImagesAgainstStore]]): per batch,
    * compute `sketch` scan-side, generate band-key candidates against the
    * store's retained sketches and smaller-id batch rows, verify with the
    * caller's predicate, emit survivors and upsert their (id, sketch)
    * state. Parameterized on the sketch expression, the band derivation,
    * the verification predicate, and the state column so the two paths
    * cannot drift on the shared mechanics (band cap sizing, within-batch
    * smaller-id suppression, null-sketch passthrough, emit-then-upsert
    * order). */
  private def dedupeSketchAgainstStore(stream: DataFrame, idCol: String,
      storeRoot: String, sketch: org.apache.spark.sql.Column,
      bandsOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      verify: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) =>
        org.apache.spark.sql.Column,
      stateCol: String, maxBucket: Int,
      perBatchCheck: org.apache.spark.sql.SparkSession => Unit = _ => ())(
      emit: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream.foreachBatch { (batch: DataFrame, epoch: Long) =>
      val spark = batch.sparkSession
      perBatchCheck(spark)
      val sketched = batch.withColumn("__sk", sketch)
        .persist(StorageLevel.MEMORY_AND_DISK)
      val bk = sketched.filter(col("__sk").isNotNull)
        .select(col(idCol).as("__bid"), col("__sk").as("__bsig"))
      val bKeyed = bk.select(col("__bid"),
        explode(bandsOf(col("__bsig"))).as("__band"))
      // each verifiedSuppressed call's overfull set feeds TWO anti joins;
      // persist it so the band-count aggregation — O(store bands) in the
      // store pass — runs once per batch even when exchange reuse doesn't
      // collapse the twin broadcasts (unpersisted after the batch)
      val overfullCaches =
        scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      def verifiedSuppressed(other: DataFrame, pairFilter: org.apache.spark.sql.Column,
                             selfJoin: Boolean) = {
        val oKeyed = other.select(col("__oid"),
          explode(bandsOf(col("__osig"))).as("__band"))
        // Band cap, same guard as the batch operators' pairsFromBuckets: a
        // band holding more than maxBucket entries across batch + retained
        // docs is degenerate boilerplate whose join would cost
        // |batch∩band| × |retained∩band| rows EVERY micro-batch and grow
        // as the store grows. The overfull set is ≤ rows/maxBucket entries
        // by construction, so the anti joins broadcast it. In the
        // within-batch pass `other` IS the batch, so sizing from the union
        // would count every batch document's bands twice and silently halve
        // the effective cap — size from one side there.
        val bandSource =
          if (selfJoin) bKeyed.select(col("__band"))
          else bKeyed.select(col("__band")).union(oKeyed.select(col("__band")))
        val overfull = bandSource
          .groupBy("__band").agg(count(lit(1)).as("__n"))
          .filter(col("__n") > maxBucket)
          .select("__band")
          .persist(StorageLevel.MEMORY_AND_DISK)
        overfullCaches += overfull
        val bCapped = bKeyed.join(broadcast(overfull), Seq("__band"), "left_anti")
        val oCapped = oKeyed.join(broadcast(overfull), Seq("__band"), "left_anti")
        bCapped.join(oCapped.select("__oid", "__band"), Seq("__band"))
          .filter(pairFilter)
          .select("__bid", "__oid").distinct()
          .join(bk, Seq("__bid"))
          .join(other.select(col("__oid"), col("__osig")), Seq("__oid"))
          .filter(verify(col("__bsig"), col("__osig")))
          .select(col("__bid"))
      }
      val vsBatch = verifiedSuppressed(
        bk.select(col("__bid").as("__oid"), col("__bsig").as("__osig")),
        col("__oid") < col("__bid"), selfJoin = true)
      val suppressed = SnapshotStore.read(spark, storeRoot) match {
        case Some(st) =>
          val stored = st.select(col(idCol).as("__oid"),
            col(stateCol).as("__osig"))
          vsBatch.union(verifiedSuppressed(stored, lit(true), selfJoin = false))
        case None => vsBatch
      }
      val survivors = sketched.join(
          suppressed.distinct().withColumnRenamed("__bid", idCol),
          Seq(idCol), "left_anti")
        .persist(StorageLevel.MEMORY_AND_DISK)
      emit(survivors.drop("__sk"), epoch)
      SnapshotStore.upsert(spark, storeRoot,
        survivors.filter(col("__sk").isNotNull)
          .select(col(idCol), col("__sk").as(stateCol)),
        UpsertConfig(discriminant = Seq(idCol)))
      survivors.unpersist()
      overfullCaches.foreach(_.unpersist())
      sketched.unpersist()
      ()
    }.start()

  /** Streaming IMAGE near-duplicate dedup with durable bounded state: per
    * batch each payload gets its perceptual dHash scan-side
    * ([[graft.functions.ImageDHashExpr]] — real decode, 9×8 box-average,
    * gradient bits); chunk-LSH keys generate candidates against (a) the
    * sketches of all previously retained images (read from the
    * [[SnapshotStore]]) and (b) smaller-id images of the same batch;
    * candidates verify on EXACT Hamming distance ≤ maxHamming. Unlike the
    * MinHash text path, the 64-bit sketch IS the complete state, so
    * streaming verification is exactly the batch operator's
    * ([[graft.operators.Dedup.imageDHashPairs]]) — nothing is estimated,
    * and a chunk-count config change cannot corrupt the store (bands are
    * re-derived from the full stored hash every batch). State is 8 bytes
    * + id
    * per retained image. Undecodable payloads (null hash) are always kept
    * and never stored. Same band cap and within-batch smaller-id
    * suppression contract as [[dedupeNearAgainstStore]]. */
  def dedupeImagesAgainstStore(stream: DataFrame, payloadCol: String,
                               idCol: String, storeRoot: String,
                               chunks: Int = 8, maxHamming: Int = 6,
                               maxBucket: Int = 10000)(
      emit: (DataFrame, Long) => Unit): StreamingQuery = {
    require(maxHamming < chunks, "chunk-LSH is exact only for hamming < chunks")
    dedupeSketchAgainstStore(stream, idCol, storeRoot,
      sketch = graft.functions.ImageDHashExpr(col(payloadCol)),
      bandsOf = h => H.simHashChunks(h, chunks),
      verify = (bh, oh) => H.hamming(bh, oh) <= maxHamming,
      stateCol = "dhash", maxBucket = maxBucket)(emit)
  }

  /** Streaming EMBEDDING near-duplicate dedup with durable bounded state —
    * the semantic companion to [[dedupeNearAgainstStore]] (text) and
    * [[dedupeImagesAgainstStore]] (images), the on-ingest half of the
    * batch SemDeDup path ([[graft.operators.Dedup.semanticDedup]]): per
    * batch each row's vector gets sign-LSH bucket keys across `tables`
    * independent hyperplane sets scan-side (the candidate generation of
    * [[graft.operators.Dedup.embeddingCosine]], fixed seeds so keys are
    * stable across restarts); candidates against (a) all previously
    * retained vectors (read from the [[SnapshotStore]]) and (b)
    * smaller-id batch rows verify on the EXACT cosine ≥ `threshold`.
    *
    * Like the image path — and unlike the MinHash text path — the stored
    * vector IS the complete state, so verification is exact (nothing
    * estimated) and a planes/tables config change cannot corrupt the
    * store: band keys are re-derived from the full stored vector every
    * batch under whatever config the query runs. State is the dim-float
    * vector + id per retained row (256 bytes at dim 64 — half the 64-hash
    * MinHash text state) and never the payload the vector embeds. Null
    * and zero vectors have no direction: always kept, never stored. Same
    * band cap and within-batch smaller-id suppression contract as
    * [[dedupeNearAgainstStore]]. */
  def dedupeEmbeddingsAgainstStore(stream: DataFrame, vecCol: String,
                                   idCol: String, storeRoot: String,
                                   threshold: Double = 0.95,
                                   nPlanes: Int = 12, dim: Int = 64,
                                   tables: Int = 4,
                                   maxBucket: Int = 10000)(
      emit: (DataFrame, Long) => Unit): StreamingQuery = {
    import graft.functions.{VectorFunctions => V}
    val allPlanes = (0 until tables).map(t =>
      V.hyperplanes(nPlanes, dim, seed = 42L + t))
    dedupeSketchAgainstStore(stream, idCol, storeRoot,
      // a zero vector's sketch is NULL: kept, never stored, never banded
      sketch = when(V.norm(col(vecCol)) > 0.0, col(vecCol)),
      // one compiled pass over all tables; table index prefixes the key so
      // tables occupy disjoint band keyspaces
      bandsOf = v => transform(V.signBuckets(v, allPlanes),
        (b, t) => concat_ws(":", t, b)),
      verify = (bv, ov) => V.cosine(bv, ov) >= threshold,
      stateCol = "vec", maxBucket = maxBucket)(emit)
  }

  /** State for [[asofEnrich]]: per-key buffers of (eventTimeMicros,
    * VALUES). `lefts` holds events still awaiting their watermark flush;
    * `rights` holds enrichment rows not yet collapsible to the standing
    * value. Values are stored as bare external arrays, NOT `Row`s — a
    * `GenericRowWithSchema` java-serializes its `StructType` with every
    * entry, and the schema is plan-constant (measured on the
    * `asof_enrich_stream` replay: the values-only state cut the streaming
    * wall ~10% — the remainder is micro-batch scheduling, not ser/de).
    * Volume is bounded by the watermark horizon; a columnar state
    * encoder is the next swap if ser/de ever dominates a profile.
    * Public only because the serialization encoder requires it — not
    * API. */
  case class AsofEnrichState(
      lefts: List[(Long, Array[Any])],
      rights: List[(Long, Array[Any])]) extends Serializable

  /** Total order mirroring Spark's ascending struct ordering (nulls
    * FIRST, fields in declaration order) over EXTERNAL row values — the
    * tie rule [[asofEnrich]] shares with `Joins.asOfJoin`: among right
    * rows at one timestamp the greatest payload struct wins. Strings
    * compare as UTF-8 BYTES (`UTF8String` order, what the batch window's
    * sort uses) — `String.compareTo`'s UTF-16 units disagree on
    * supplementary characters. Seqs (external ArrayType values) compare
    * element-wise then by length, Spark's array ordering. Genuinely
    * unorderable values (maps…) compare equal, matching the batch
    * operator's documented arbitrary fallback — visible for tests as
    * `orderExternal`. */
  private[graft] def orderExternal(a: Any, b: Any): Int =
    compareExternal(a, b)

  private def compareExternal(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _)    => -1
    case (_, null)    => 1
    case (x: org.apache.spark.sql.Row, y: org.apache.spark.sql.Row) =>
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = compareExternal(x.get(i), y.get(i))
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    case (x: Array[Byte], y: Array[Byte]) =>
      java.util.Arrays.compareUnsigned(x, y)
    case (x: Array[Any], y: Array[Any]) => // bare value arrays (state form)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = compareExternal(x(i), y(i))
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    case (x: Seq[_], y: Seq[_]) => // external ArrayType values
      val (ix, iy) = (x.iterator, y.iterator)
      while (ix.hasNext && iy.hasNext) {
        val c = compareExternal(ix.next(), iy.next())
        if (c != 0) return c
      }
      x.length - y.length
    case (x: String, y: String) =>
      org.apache.spark.unsafe.types.UTF8String.fromString(x)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y))
    case (x: Comparable[_], y) if x.getClass == y.getClass =>
      x.asInstanceOf[Comparable[Any]].compareTo(y)
    case _ => 0
  }

  /** Event time as epoch micros — full timestamp precision (getTime alone
    * truncates to millis and would diverge from the batch join on
    * sub-milli data). */
  private def tsMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** STREAMING as-of enrichment — the backward [[graft.operators.Joins
    * .asOfJoin]] contract between TWO UNBOUNDED STREAMS: every left event
    * is enriched with the right row holding the greatest `rightTs` ≤ its
    * `leftTs` on the same `keyCols` (market-data/current-dimension
    * semantics). Spark's built-in stream-stream joins are equi/interval
    * joins and its stream-static join sees only the latest static
    * snapshot, so this is the `flatMapGroupsWithState` escape hatch the
    * extension ladder reserves for whole-operator streaming semantics.
    *
    * CORRECTNESS MODEL (watermark-driven, deterministic): a left event is
    * held in state until the watermark passes its timestamp — at that
    * point every right row that could precede it has either arrived or is
    * late beyond `delay` (the standard watermark contract; choose `delay`
    * accordingly), so the match is FINAL. Arrival order within the
    * horizon is immaterial: an out-of-order right row arriving after the
    * left event it should enrich still wins, exactly as in the batch
    * join. Emitted rows match `Joins.asOfJoin` row-for-row (same tie rule
    * — greatest payload struct at equal `rightTs`; same inclusive
    * tolerance; same left-outer NULLs; same NULL-key matching via the
    * null-safe group key; NULL `leftTs` rows pass through unenriched —
    * no position on the timeline; NULL `rightTs` rows are dropped) —
    * property-pinned in `StreamAsofSpec` against the batch operator.
    *
    * STATE IS BOUNDED: per key, the left buffer holds only events inside
    * the watermark horizon, and right rows older than the watermark
    * collapse to ONE standing row — the current value future events will
    * match (with a `toleranceMs`, even that row is dropped once it can no
    * longer satisfy the bound, so idle keys fully evict; without one, a
    * key retains its single standing row, which IS the semantics of
    * "current dimension value"). At 100 TB widths the plan is one
    * key-hash exchange into the state operator — no sort, no rescan; a
    * hot key costs that key's horizon, same proportionality as the batch
    * carry, and the RocksDB state-store provider is the spill path
    * (exercised in the spec).
    *
    * Flushes ride EVENT TIME: pending events re-arm an event-time timeout
    * at their earliest timestamp, so emission needs no per-key new data —
    * only watermark advance.
    *
    * DIRECTIONS: `backward` (default) is tolerance-optional. `forward`
    * ("next event at-or-after") and `nearest` REQUIRE `toleranceMs` —
    * over two unbounded streams the next right row may never come, so
    * only a staleness bound makes a left row's outcome decidable: it is
    * held until the watermark passes `leftTs + tolerance`, at which
    * point every in-bound candidate has arrived or is late. The left
    * buffer's horizon grows by the tolerance, and rights are retained
    * individually down to the earliest pending left (forward candidates
    * below the watermark can still be matched by lefts still waiting);
    * both remain watermark-bounded. Tie and equidistant rules replay the
    * batch operator's exactly (greatest payload at equal `rightTs`;
    * equidistant `nearest` takes backward).
    *
    * Right columns except `keyCols` are appended with `rightPrefix`;
    * `toleranceMs` bounds |leftTs − rightTs| inclusively, NULLing the
    * enrichment (never the row). Both inputs must be streaming and share
    * the engine's watermark on their own ts columns (applied HERE — pass
    * raw streams). */
  def asofEnrich(leftStream: DataFrame, rightStream: DataFrame,
                 keyCols: Seq[String], leftTs: String, rightTs: String,
                 delay: String, rightPrefix: String = "",
                 toleranceMs: Option[Long] = None,
                 direction: String = "backward"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.types.{StructField, StructType}
    import org.apache.spark.sql.{Encoders, Row}
    require(keyCols.nonEmpty, "at least one key column")
    require(toleranceMs.forall(_ >= 0L), "toleranceMs must be non-negative")
    require(Set("backward", "forward", "nearest").contains(direction),
      s"direction must be 'backward', 'forward' or 'nearest', got '$direction'")
    require(direction == "backward" || toleranceMs.isDefined,
      s"direction '$direction' over unbounded streams requires toleranceMs " +
        "(the staleness bound that makes a row's outcome decidable)")
    // keys are matched through a per-side STRING encoding, so a type
    // mismatch (long vs double user_id) would silently never match —
    // where the batch join's union widens types. Reject it loudly; cast
    // one side upstream instead.
    keyCols.foreach { k =>
      val (lt, rt) = (leftStream.schema(k).dataType, rightStream.schema(k).dataType)
      require(lt == rt,
        s"key column '$k' has type ${lt.simpleString} on the left but " +
          s"${rt.simpleString} on the right — cast one side upstream " +
          "(the batch join widens via union; the streaming key encoding " +
          "cannot)")
    }
    val leftCols = leftStream.columns.toSeq
    val payloadCols = rightStream.columns.filterNot(keyCols.contains).toSeq
    require(payloadCols.nonEmpty, "right side has no payload columns")
    require(!leftCols.exists(c => payloadCols.map(rightPrefix + _).contains(c)),
      "right payload columns collide with left columns; set rightPrefix")
    val leftSchema = leftStream.schema
    val payloadSchema = StructType(payloadCols.map(c =>
      rightStream.schema(c).copy(name = c)))
    val outSchema = StructType(leftSchema.fields ++ payloadCols.map { c =>
      val f = rightStream.schema(c)
      StructField(rightPrefix + c, f.dataType, nullable = true)
    })
    val lts = col(leftTs).cast("timestamp")
    val rts = col(rightTs).cast("timestamp")
    // a left row with no parseable event time has no position on the
    // timeline: it passes through unenriched and touches no state (the
    // batch join's NULL-ts guard, left-outer shape preserved)
    val noTime = leftStream.filter(lts.isNull).select(
      leftCols.map(col) ++ payloadCols.map(c =>
        lit(null).cast(rightStream.schema(c).dataType).as(rightPrefix + c)): _*)
    val lTagged = leftStream.filter(lts.isNotNull).select(
      nullSafeKey(leftStream, keyCols).as("_1"), lts.as("_2"), lit(true).as("_3"),
      struct(leftCols.map(col): _*).as("_4"),
      lit(null).cast(payloadSchema).as("_5"))
    // a NULL rightTs can never satisfy the as-of predicate (batch parity)
    val rTagged = rightStream.filter(rts.isNotNull).select(
      nullSafeKey(rightStream, keyCols).as("_1"), rts.as("_2"), lit(false).as("_3"),
      lit(null).cast(leftSchema).as("_4"),
      struct(payloadCols.map(col): _*).as("_5"))
    val tagged = lTagged.unionByName(rTagged)
      .withWatermark("_2", delay)
      .as(Encoders.tuple(Encoders.STRING, Encoders.TIMESTAMP,
        Encoders.scalaBoolean, Encoders.row(leftSchema),
        Encoders.row(payloadSchema)))
    val tolMicros = toleranceMs.map(_ * 1000L)
    val dir = direction
    tagged.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[AsofEnrichState, Row](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String,
         rows: Iterator[(String, java.sql.Timestamp, Boolean, Row, Row)],
         state: GroupState[AsofEnrichState]) =>
          val prior =
            if (state.exists) state.get else AsofEnrichState(Nil, Nil)
          var lefts = prior.lefts
          var rights = prior.rights
          rows.foreach { case (_, ts, isLeft, l, r) =>
            val m = tsMicros(ts)
            if (isLeft) lefts ::= ((m, l.toSeq.toArray))
            else rights ::= ((m, r.toSeq.toArray))
          }
          val wmMs = state.getCurrentWatermarkMs()
          val wmMicros = wmMs * 1000L
          // ascending (ts, payload): the last element ≤ leftTs is the tie
          // winner — the greatest payload struct among equal timestamps
          val rSorted = rights.sortWith { (a, b) =>
            if (a._1 != b._1) a._1 < b._1
            else compareExternal(a._2, b._2) < 0
          }.toIndexedSeq
          // a left row is FINAL when the watermark passes its last
          // possible candidate: its own ts (backward) or ts + tolerance
          // (forward/nearest — the staleness bound that makes the wait
          // finite). STRICT < on every boundary: if the engine admits a
          // row at ts == wm, everything that could interact with it is
          // still held
          val holdMicros = if (dir == "backward") 0L else tolMicros.get
          val (ready, pending) =
            lefts.partition(l => l._1 + holdMicros < wmMicros)
          // greatest right ≤ lm: last of its equal-ts run is already the
          // tie winner (ascending payload order within a run)
          def backwardIdx(lm: Long): Int = {
            var lo = 0
            var hi = rSorted.length - 1
            var best = -1
            while (lo <= hi) {
              val mid = (lo + hi) >>> 1
              if (rSorted(mid)._1 <= lm) { best = mid; lo = mid + 1 }
              else hi = mid - 1
            }
            best
          }
          // smallest right ≥ lm, advanced to the END of its equal-ts run
          // (batch forward tie rule: greatest payload at the matched ts)
          def forwardIdx(lm: Long): Int = {
            var lo = 0
            var hi = rSorted.length - 1
            var first = -1
            while (lo <= hi) {
              val mid = (lo + hi) >>> 1
              if (rSorted(mid)._1 >= lm) { first = mid; hi = mid - 1 }
              else lo = mid + 1
            }
            if (first < 0) -1
            else {
              var j = first
              while (j + 1 < rSorted.length &&
                rSorted(j + 1)._1 == rSorted(first)._1) j += 1
              j
            }
          }
          val out = ready.sortBy(_._1).map { case (lm, lrow) =>
            val bIdx = backwardIdx(lm)
            val b =
              if (bIdx < 0) null
              else if (tolMicros.forall(t => lm - rSorted(bIdx)._1 <= t))
                rSorted(bIdx)
              else null
            lazy val fIdx = forwardIdx(lm)
            lazy val f =
              if (fIdx < 0) null
              else if (tolMicros.forall(t => rSorted(fIdx)._1 - lm <= t))
                rSorted(fIdx)
              else null
            val matched: Array[Any] = dir match {
              case "backward" => if (b == null) null else b._2
              case "forward" => if (f == null) null else f._2
              case _ => // nearest: closer wins, equidistant ties backward
                if (b == null && f == null) null
                else if (f == null) b._2
                else if (b == null) f._2
                else if (lm - b._1 <= f._1 - lm) b._2
                else f._2
            }
            Row.fromSeq(lrow.toSeq ++ (
              if (matched == null) payloadCols.map(_ => null)
              else matched.toSeq))
          }
          // retention threshold: rights at-or-above it are held
          // individually. Backward pending lefts all sit above the
          // watermark, so the threshold is the watermark; forward/nearest
          // pending lefts can sit BELOW it (waiting out their tolerance),
          // and their candidates — both directions — reach down to the
          // earliest pending left's ts
          val minPending =
            if (pending.isEmpty) Long.MaxValue
            else pending.iterator.map(_._1).min
          val threshold = math.min(wmMicros, minPending)
          var lastBelow = -1
          var lo = 0
          var hi = rSorted.length - 1
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            if (rSorted(mid)._1 < threshold) { lastBelow = mid; lo = mid + 1 }
            else hi = mid - 1
          }
          // below the threshold only the single standing row (greatest
          // (ts, payload)) can still match — as the backward candidate of
          // some later left; pure-forward needs nothing below threshold,
          // and a tolerance retires the standing row once no future left
          // (all ≥ threshold) can reach it
          val standing =
            if (lastBelow < 0 || dir == "forward") Nil
            else if (tolMicros.exists(t =>
              threshold - rSorted(lastBelow)._1 > t)) Nil
            else List(rSorted(lastBelow))
          val keptRights = standing ++ rSorted.drop(lastBelow + 1).toList
          if (pending.isEmpty && keptRights.isEmpty) state.remove()
          else {
            state.update(AsofEnrichState(pending, keptRights))
            // re-arm: wake when the watermark passes (a) the earliest
            // pending left's finalize point, (b) the newest uncollapsed
            // right — a key that saw ONLY rights would otherwise never be
            // invoked again and its whole buffer would sit in the state
            // store forever instead of collapsing to the standing row —
            // or (c) the standing row's tolerance retirement
            val target: Option[Long] =
              if (pending.nonEmpty)
                Some((minPending + holdMicros) / 1000L + 1L)
              else if (keptRights.exists(_._1 >= wmMicros))
                Some(keptRights.iterator.map(_._1).max / 1000L + 2L)
              else tolMicros.collect {
                case t if standing.nonEmpty && standing.head._1 < wmMicros =>
                  (standing.head._1 + t) / 1000L + 1L
              }
            target.foreach(ms =>
              state.setTimeoutTimestamp(math.max(wmMs + 1L, ms)))
          }
          out.iterator
      }(Encoders.javaSerialization(classOf[AsofEnrichState]),
        Encoders.row(outSchema))
      .toDF()
      .unionByName(noTime)
  }

  /** State for [[sessionizeStream]]: the numbering cursor (last finalized
    * distinct event-time, last session ordinal) plus the watermark-bounded
    * buffer of rows not yet finalizable. Values as bare external arrays
    * (the [[AsofEnrichState]] rationale). Public only for the
    * serialization encoder — not API. */
  case class SessionizeStreamState(
      lastTs: Long, lastNo: Long,
      pending: List[(Long, Array[Any])]) extends Serializable

  /** STREAMING gap-sessionization — [[graft.operators.Sessions.sessionize]]
    * between micro-batches: append `session_no` (1-based per key; a new
    * session starts at the key's first event and at every event whose gap
    * from the previous DISTINCT timestamp exceeds `gapSec`), with rows
    * finalizable only once the watermark passes their timestamp — an
    * event's number depends on every earlier event of its key, so a row
    * at `ts` is held until `watermark > ts`, at which point anything that
    * could precede it has arrived or is late. Emitted rows match the
    * batch operator row-for-row across any batch split and within-horizon
    * disorder (property-pinned in `StreamSessionSpec`); ties at one
    * timestamp share a session; NULL-ts rows pass through with a NULL
    * `session_no` and touch no state (both batch rules).
    *
    * STATE per key: two longs (the numbering cursor) plus the pending
    * rows inside the watermark horizon — the same bound as every
    * stateful operator here. The CURSOR must outlive the horizon (the
    * next session's ordinal is a function of all history), so idle keys
    * keep their two longs; `idleTtlMs > 0` bounds that too by evicting
    * keys idle past the TTL (event-time, measured against the
    * watermark) — a key returning AFTER eviction restarts at session 1,
    * the documented trade for hard-bounded state over unbounded key
    * churn (the [[dedupeKeysWithTTLEventTime]] re-admission shape). Late
    * rows beyond `delay` are dropped by the engine (standard policy).
    * The watermark is applied HERE; pass the raw stream. */
  def sessionizeStream(stream: DataFrame, keyCols: Seq[String],
                       tsCol: String, gapSec: Long, delay: String,
                       idleTtlMs: Long = 0L): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import org.apache.spark.sql.{Encoders, Row}
    require(keyCols.nonEmpty, "at least one key column")
    require(gapSec >= 0, s"gapSec must be >= 0, got $gapSec")
    require(idleTtlMs >= 0, "idleTtlMs must be non-negative (0 = keep cursors)")
    val inSchema = stream.schema
    val outSchema = StructType(inSchema.fields :+
      StructField("session_no", LongType, nullable = true))
    val ts = col(tsCol).cast("timestamp")
    val inCols = stream.columns.toSeq
    // no parseable event time = no position on the timeline: NULL
    // session_no, no state (batch parity)
    val noTime = stream.filter(ts.isNull)
      .select(inCols.map(col) :+ lit(null).cast("long").as("session_no"): _*)
    val tagged = stream.filter(ts.isNotNull)
      .select(nullSafeKey(stream, keyCols).as("_1"), ts.as("_2"),
        struct(inCols.map(col): _*).as("_3"))
      .withWatermark("_2", delay)
      .as(Encoders.tuple(Encoders.STRING, Encoders.TIMESTAMP,
        Encoders.row(inSchema)))
    val gapUs = gapSec * 1000000L
    val ttlUs = idleTtlMs * 1000L
    tagged.groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[SessionizeStreamState, Row](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String,
         rows: Iterator[(String, java.sql.Timestamp, Row)],
         state: GroupState[SessionizeStreamState]) =>
          val prior = if (state.exists) state.get
            else SessionizeStreamState(Long.MinValue, 0L, Nil)
          var pending = prior.pending
          rows.foreach { case (_, t, r) =>
            pending ::= ((tsMicros(t), r.toSeq.toArray))
          }
          val wmMs = state.getCurrentWatermarkMs()
          val wmMicros = wmMs * 1000L
          // STRICT <: a row admitted at ts == wm could still gain
          // same-or-earlier-ts company (the asofEnrich boundary rule)
          val (ready, held) = pending.partition(_._1 < wmMicros)
          var lastTs = prior.lastTs
          var lastNo = prior.lastNo
          // the FIRST row of an equal-ts run decides (gap from the
          // previous distinct ts); followers share its number because
          // their gap from the updated cursor is 0 <= gapUs — ties share
          // a session, the batch rule
          val out = ready.sortBy(_._1).map { case (m, values) =>
            if (lastTs == Long.MinValue || m - lastTs > gapUs) lastNo += 1
            if (m != lastTs) lastTs = m
            Row.fromSeq(values.toSeq :+ lastNo)
          }
          val idleExpired = ttlUs > 0L && held.isEmpty &&
            lastTs != Long.MinValue && wmMicros - lastTs > ttlUs
          if (idleExpired) state.remove()
          else {
            state.update(SessionizeStreamState(lastTs, lastNo, held))
            // wake when the earliest held row becomes finalizable, else
            // (cursor-only state) at the idle-TTL eviction point
            val target: Option[Long] =
              if (held.nonEmpty)
                Some(held.iterator.map(_._1).min / 1000L + 1L)
              else if (ttlUs > 0L && lastTs != Long.MinValue)
                Some((lastTs + ttlUs) / 1000L + 1L)
              else None
            target.foreach(ms =>
              state.setTimeoutTimestamp(math.max(wmMs + 1L, ms)))
          }
          out.iterator
      }(Encoders.javaSerialization(classOf[SessionizeStreamState]),
        Encoders.row(outSchema))
      .toDF()
      .unionByName(noTime)
  }

  /** Micro-batch upsert sink: apply each epoch as a merge into a snapshot
    * maintained by `applyBatch` — the reference's buffer-flush-per-epoch
    * contract (`writers.py:70-72,88-95`) expressed as `foreachBatch`.
    * Returns the StreamingQuery; caller stops it. */
  def upsertSink(stream: DataFrame)(
      applyBatch: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
      applyBatch(b, id)
    }.start()

  /** Right-to-be-forgotten for the DURABLE DEDUP STATE — the third place
    * the engine persists user-derived data, after the corpus store
    * (`SnapshotStore.delete`) and the serving ANN indexes
    * (`Similarity.indexDelete`): the `dedupe*AgainstStore` family retains
    * per-document fingerprints, MinHash signatures, dHashes, or FULL
    * EMBEDDING VECTORS, keyed forever, and none of the other forget paths
    * touch them. Removes every state row belonging to the victim ids and
    * returns the count.
    *
    * Cost follows the store's own delete economy: the sketch-family
    * stores ([[dedupeNearAgainstStore]]/[[dedupeImagesAgainstStore]]/
    * [[dedupeEmbeddingsAgainstStore]]) key state BY THE DOCUMENT ID, so
    * the delete is O(touched buckets) with no scan; the exact-dedup store
    * ([[dedupeExactAgainstStore]]) keys by fingerprint, so the victims'
    * keys are first located with one scan of the state table — which is
    * fingerprints + ids only, a vanishing fraction of corpus bytes by
    * that path's own design.
    *
    * Semantics: deleting a victim's state re-admits FUTURE copies of
    * their content — exactly right, forgotten content is new content.
    * Run it from the single writer that owns the store (pause the
    * streaming query or call between epochs), and follow with
    * `SnapshotStore.vacuum`/`Layout.storeMaintain` when the bytes must
    * be forgotten — the state store is a versioned SnapshotStore, and
    * pre-delete versions stay readable until vacuumed. */
  def forgetFromDedupState(spark: org.apache.spark.sql.SparkSession,
                           storeRoot: String, keys: DataFrame,
                           idCol: String = "id"): Long = {
    require(keys.columns.contains(idCol),
      s"keys must carry the id column '$idCol'")
    if (SnapshotStore.currentVersion(spark, storeRoot).isEmpty) return 0L
    val disc = SnapshotStore.discriminantColumns(spark, storeRoot)
    val deleteKeys =
      if (disc == Seq(idCol)) keys.select(col(idCol))
      else {
        val state = SnapshotStore.read(spark, storeRoot).get
        require(state.columns.contains(idCol),
          s"state store at $storeRoot has no '$idCol' column " +
            s"(columns: ${state.columns.mkString(", ")})")
        state.join(broadcast(keys.select(col(idCol)).distinct()),
            Seq(idCol), "left_semi")
          .select(disc.map(col): _*)
      }
    SnapshotStore.delete(spark, storeRoot, deleteKeys)
  }

  /** Streaming ANN-index ingest: append each micro-batch into a
    * persisted index (`Similarity.ivfPqBuild`) with the STANDING model
    * via `Similarity.ivfPqAppend` — `graft.examples.AnnIngestExample`'s
    * ingest day as a `foreachBatch` sink. An epoch aimed at a directory
    * that is not an IVF-PQ index fails loudly, naming the path, before
    * anything is written (the fence does not advance); nightly
    * `indexMaintain` runs on its own schedule from the single writer
    * that owns the index. Appends and maintenance must not interleave — and since the
    * appends HOLD the `.mutating` writer lease, they cannot: an epoch
    * arriving while a maintain/delete holds the lease fails loudly,
    * advances no fence state, and is redelivered (and appended exactly
    * once) on restart after the lease clears.
    *
    * EPOCH FENCE — appends are not idempotent, and `foreachBatch`
    * redelivers epochs at-least-once on recovery, so a replayed epoch
    * would silently duplicate its vectors. The sink records the last
    * appended epoch id AND the owning query's LINEAGE (the streaming
    * query id, which Spark persists in the checkpoint and restores on
    * every restart from it) in `<path>/.ingest_epoch` (hidden: never
    * enters a relation read or the drift gauge's sample; written tmp +
    * atomic rename on filesystems that can swap atomically, plain
    * overwrite on object stores — a torn fence is caught by the loud
    * unreadable-fence error with its recovery step) and resolves each
    * incoming epoch:
    *
    *  - DIFFERENT lineage (any epoch, including `0 == 0`): the stream
    *    was restarted against a fresh/foreign checkpoint whose epoch ids
    *    restarted — batch boundaries no longer correspond, so skipping
    *    loses rows and appending duplicates them. The sink fails LOUDLY:
    *    reconcile the index contents, then remove `.ingest_epoch` to
    *    adopt the new lineage. (Epoch ids alone cannot distinguish a
    *    fresh lineage's first batch from a redelivery while the fence
    *    reads 0 — the lineage line exists exactly for that case.)
    *  - same lineage, `epoch > last`: genuinely new — append, advance;
    *  - same lineage, `epoch == last`: the at-least-once redelivery of
    *    the one epoch a crash can replay under a single checkpoint
    *    lineage — skipped whole (the idempotent-`foreachBatch` recipe);
    *  - same lineage, `epoch < last`: impossible under one checkpoint
    *    lineage (each epoch records itself before the next runs) —
    *    fails loudly with the same recovery step.
    *
    * A LEGACY two-line fence (pre-lineage format: the epoch written
    * twice) carries no lineage, so `epoch == last` is AMBIGUOUS — a
    * redelivery by the fence's own (unrecorded) lineage, which must be
    * skipped, or a fresh/foreign lineage's genuinely new batch, which a
    * skip silently loses (the exact hole the lineage line was added to
    * close). The sink refuses to guess: it fails loudly with both
    * recovery paths named — migrate the fence to the lineage format
    * (redelivery case; one validated atomic call:
    * [[migrateIngestFence]]) or delete it (fresh-lineage case). `epoch > last`
    * is unambiguous (append is correct under either lineage) and
    * advances the fence into the lineage format; `epoch < last` fails
    * loudly as before. Pass `checkpointLocation` to make restarts
    * resumable (same query id = same lineage); without a checkpoint
    * every restart is a fresh lineage and the fence will refuse it by
    * design.
    *
    * `strictFence = true` refuses AT START to run where the fence
    * cannot be swapped atomically ([[graft.sinks.SnapshotStore]]'s
    * atomic-rename capability check): on object stores the fallback is
    * a plain overwrite, whose crash can erase the fence ENTIRELY —
    * indistinguishable from a fresh index, silently re-opening
    * at-least-once for the redelivered epoch. The default (`false`)
    * keeps the sink available there with that documented downgrade; when
    * exactly-once matters on an object store, hold the INDEX on it but
    * the fence elsewhere — `fencePath` relocates just the fence file to
    * HDFS-compatible storage (combine with `strictFence` to enforce
    * that the chosen location actually swaps atomically).
    *
    * Honest residual window (both modes): a crash BETWEEN the append and
    * the fence record replays that one epoch's rows (the append itself
    * is not transactional); dedupe by id downstream, or run an upstream
    * [[dedupeEmbeddingsAgainstStore]]/[[dedupeKeysWithTTL]] stage, where
    * exact contents matter across crashes. */
  def annAppendSink(stream: DataFrame, vecCol: String, path: String,
                    strictFence: Boolean = false,
                    checkpointLocation: Option[String] = None,
                    fencePath: Option[String] = None)(
      onEpoch: Long => Unit = _ => ())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.Similarity
    val fenceName = ".ingest_epoch"
    val epochFile = fencePath
      .map(new org.apache.hadoop.fs.Path(_))
      .getOrElse(new org.apache.hadoop.fs.Path(path, fenceName))
    if (strictFence) {
      val fs0 = epochFile.getFileSystem(
        stream.sparkSession.sessionState.newHadoopConf())
      require(graft.sinks.SnapshotStore.atomicRenameCapable(fs0),
        s"strictFence: the fence at $epochFile sits on " +
          s"'${fs0.getScheme}', which has no atomic rename — a crashed " +
          "plain-overwrite can erase the fence entirely and silently " +
          "re-open at-least-once for the redelivered epoch. Point " +
          "fencePath at HDFS-compatible storage (the index data can " +
          "stay here), or accept the documented downgrade with " +
          "strictFence = false")
    }
    // the appends this sink performs HOLD the .mutating writer lease,
    // whose create-exclusive is refused on object-store schemes — a
    // separate gate from the fence checks above (it follows the INDEX
    // location, not the fence's, and strictFence/fencePath do not lift
    // it). Surface it AT START with the governing knob named, instead of
    // letting every epoch fail with a message about a different opt-in.
    {
      val indexConf = stream.sparkSession.sessionState.newHadoopConf()
      val ifs = new org.apache.hadoop.fs.Path(path).getFileSystem(indexConf)
      // the SHARED acceptance rule (Similarity.leaseExclusiveOrOptedIn)
      // — the sink's fail-fast must never drift from what the appends
      // actually enforce at lease acquisition
      require(Similarity.leaseExclusiveOrOptedIn(ifs, indexConf),
        s"annAppendSink: the index at $path sits on '${ifs.getScheme}', " +
          "where the .mutating writer lease's create-exclusive is not " +
          "atomic — every epoch's append would refuse. Host the index " +
          "on an HDFS-compatible filesystem, or — acknowledging the " +
          "lease degrades to advisory and the single-writer contract " +
          "must be enforced externally — set " +
          "graft.index.allowNonExclusiveLease=true in the Hadoop conf " +
          "(fencePath/strictFence govern only the fence location, not " +
          "this)")
    }
    // the fence's lineage line is the streaming QUERY ID — stable across
    // restarts from the same checkpoint (Spark persists it in the
    // checkpoint metadata), fresh for a new/foreign checkpoint. It is
    // only known once start() returns, so the first batch parks on the
    // latch; start() does not wait for batch completion, so the
    // countDown below cannot deadlock against it.
    val lineageLatch = new java.util.concurrent.CountDownLatch(1)
    @volatile var lineageId: String = null
    val writer = stream.writeStream.foreachBatch {
        (batch: DataFrame, epoch: Long) =>
      lineageLatch.await()
      val lineage = lineageId
      val spark = batch.sparkSession
      val fs = epochFile.getFileSystem(spark.sessionState.newHadoopConf())
      // fence format: epoch and lineage each written TWICE
      // (epoch\nlineage\nepoch\nlineage) — a torn write on a store
      // without atomic rename truncates to a PREFIX, and no strict
      // prefix of the four lines can satisfy both equalities, so every
      // truncation is unreadable and therefore LOUD. (A single-number
      // format would parse a truncated "10" as a smaller valid epoch
      // and silently re-append the redelivered epoch.)
      val recorded: Option[(Long, Option[String])] =
        if (!fs.exists(epochFile)) None
        else {
          val in = fs.open(epochFile)
          val text = try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8) finally in.close()
          val parsed = text.trim.linesIterator.map(_.trim).toSeq match {
            case Seq(e1, l1, e2, l2) if e1 == e2 && l1 == l2 =>
              e1.toLongOption.map(e => (e, Some(l1)))
            case Seq(a, b) if a == b => // legacy pre-lineage fence
              a.toLongOption.map(e => (e, None))
            case _ => None
          }
          Some(parsed.getOrElse(throw new IllegalStateException(
            s"unreadable ingest fence $epochFile (content: " +
              s"'${text.trim.take(60)}'): likely a torn write on a " +
              "filesystem without atomic rename — verify the index " +
              "contents, then delete the file to re-arm the fence")))
        }
      recorded.foreach { case (last, fenceLineage) =>
        if (fenceLineage.exists(_ != lineage)) throw new IllegalStateException(
          s"ingest fence $epochFile belongs to query lineage " +
            s"${fenceLineage.get}, but this stream runs as $lineage: it " +
            "was restarted with a different checkpoint lineage, under " +
            "which epoch ids no longer correspond — skipping loses rows " +
            "and appending duplicates them, so reconcile the index " +
            s"contents, then delete the fence at $epochFile to adopt the " +
            "new lineage")
        if (epoch < last) throw new IllegalStateException(
          s"epoch $epoch is below the recorded fence $last at " +
            s"$epochFile: the stream was restarted with a different " +
            "checkpoint lineage (epoch ids restarted), under which " +
            "skipping loses rows and appending duplicates them — " +
            "reconcile the index contents, then delete the fence at " +
            s"$epochFile to adopt the new lineage")
        // LEGACY (pre-lineage) fence at equal epoch: without a lineage
        // line the fence cannot attribute the batch — a redelivery by
        // its own lineage must be skipped, a fresh lineage's first
        // batch must be appended, and guessing silently duplicates or
        // loses rows. The one formerly-silent case left open when the
        // lineage line landed; refuse it loudly with both recoveries.
        if (fenceLineage.isEmpty && epoch == last)
          throw new IllegalStateException(
            s"legacy (pre-lineage) ingest fence $epochFile records " +
              s"epoch $last and this stream delivers epoch $epoch — " +
              "ambiguous without a lineage line: a redelivery must be " +
              "skipped, a fresh lineage's batch must be appended. " +
              "Reconcile: if the index already contains this batch's " +
              "rows (redelivery), migrate the fence to the lineage " +
              "format with StreamOps.migrateIngestFence(spark, " +
              s"""\"$epochFile\", \"$lineage\") — it validates the """ +
              "legacy format and rewrites it atomically as the four " +
              s"lines '$last', '$lineage', '$last', '$lineage'; if not " +
              s"(fresh lineage), delete the fence at $epochFile — the batch is " +
              "redelivered and appended under this lineage")
      }
      if (recorded.forall(_._1 < epoch)) {
        Similarity.ivfPqAppend(batch, vecCol, path)
        // tmp + atomic rename where the filesystem can swap atomically;
        // object stores (no atomic rename) fall back to a plain
        // overwrite so the sink stays AVAILABLE there — unless
        // strictFence refused at start. The residual object-store
        // hazard is a crash erasing the file ENTIRELY (fresh-index
        // ambiguity, at-least-once re-opened for the redelivered epoch).
        val fenceBody = s"$epoch\n$lineage\n$epoch\n$lineage"
        graft.sinks.SnapshotStore.replaceSmallFilePreferAtomic(fs,
          epochFile.getParent.toString, epochFile.getName, fenceBody)
        onEpoch(epoch)
      }
    }
    val query = checkpointLocation
      .fold(writer)(cp => writer.option("checkpointLocation", cp))
      .start()
    lineageId = query.id.toString
    lineageLatch.countDown()
    query
  }

  /** One-call migration of a LEGACY (pre-lineage, two-line) ingest fence
    * into the four-line lineage format — the redelivery recovery the
    * equal-epoch refusal in [[annAppendSink]] prescribes. After the
    * operator confirms the index already contains the refused batch's
    * rows (it was a redelivery), this stamps the fence with the owning
    * query's lineage (`queryId`: the streaming query id the refusal
    * message quotes) so the redelivered epoch resolves as the
    * same-lineage skip it is, and the stream resumes exactly-once.
    *
    * Validates before writing, refusing each wrong state with its own
    * recovery: a MISSING fence (nothing to migrate — the next epoch
    * appends and writes a fresh lineage fence by itself), a fence
    * ALREADY in the lineage format (migrating over it would overwrite a
    * live lineage attribution), and an UNREADABLE fence (a torn write —
    * the [[annAppendSink]] unreadable-fence recovery applies, not a
    * migration). The recorded epoch is preserved verbatim, and the
    * rewrite uses the same atomic-rename discipline as the sink's own
    * fence advances (tmp + rename where the filesystem swaps
    * atomically, plain overwrite on object stores). */
  def migrateIngestFence(spark: org.apache.spark.sql.SparkSession,
                         fencePath: String, queryId: String): Unit = {
    val id = Option(queryId).map(_.trim).getOrElse("")
    require(id.nonEmpty && !id.exists(c => c == '\n' || c == '\r'),
      "migrateIngestFence: queryId must be a non-empty single line (the " +
        "streaming query id quoted in the refusal message)")
    val fence = new org.apache.hadoop.fs.Path(fencePath)
    val fs = fence.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(fence)) throw new IllegalArgumentException(
      s"migrateIngestFence: no fence at $fencePath — nothing to " +
        "migrate. A missing fence needs no recovery: the next epoch " +
        "appends and records a fresh lineage fence by itself")
    val in = fs.open(fence)
    val text = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    text.trim.linesIterator.map(_.trim).toSeq match {
      case Seq(e1, l1, e2, l2) if e1 == e2 && l1 == l2 &&
          e1.toLongOption.isDefined =>
        throw new IllegalStateException(
          s"migrateIngestFence: the fence at $fencePath already carries " +
            s"lineage $l1 (four-line format) — nothing to migrate" +
            (if (l1 == id) ""
             else s". It belongs to a DIFFERENT lineage than the " +
               s"requested $id: overwriting a live attribution would " +
               "re-open the ambiguity this migration exists to close — " +
               "if the stream really changed lineage, reconcile the " +
               "index contents and delete the fence instead"))
      case Seq(a, b) if a == b && a.toLongOption.isDefined =>
        // the sink's own fence-advance discipline, via the shared helper
        graft.sinks.SnapshotStore.replaceSmallFilePreferAtomic(fs,
          fence.getParent.toString, fence.getName, s"$a\n$id\n$a\n$id")
      case _ =>
        throw new IllegalStateException(
          s"migrateIngestFence: unreadable ingest fence at $fencePath " +
            s"(content: '${text.trim.take(60)}') — not the legacy " +
            "two-line format this migrates; likely a torn write. Verify " +
            "the index contents, then delete the file to re-arm the " +
            "fence (the annAppendSink unreadable-fence recovery)")
    }
  }
}
