package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 0
    (2L, "completely different content about spark engines and shuffles"),
    (3L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 0
    (4L, "  the   quick brown fox jumps over the lazy dog ") // ws-normalized dup of 0
  ).toDF("doc_id", "text")

  test("exact dedup keeps the minimal keepBy row per key") {
    val df = Seq(("a", 3L), ("a", 1L), ("b", 2L)).toDF("k", "id")
    val out = Dedup.exact(df, Seq("k"), "id").orderBy("k").collect()
    out.map(r => (r.getString(0), r.getLong(1))) shouldBe Array(("a", 1L), ("b", 2L))
  }

  test("exact dedup emits exactly one row per key even on full ties") {
    val df = Seq(("a", 1L), ("a", 1L), ("a", 1L)).toDF("k", "id")
    Dedup.exact(df, Seq("k"), "id").count() shouldBe 1
  }

  test("fingerprint dedup collapses exact + whitespace-normalized dups") {
    val kept = Dedup.exactByFingerprint(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    kept shouldBe Array(0L, 1L, 2L)
  }

  test("fingerprint dedup keeps the rows of a min-id aggregate semi-joined " +
    "back: ties on (fingerprint, id) all survive, null texts and null ids " +
    "are dropped") {
    val df = Seq[(java.lang.Long, String)]((1L, "a b"), (1L, " A  b"),
      (2L, "a b"), (null, "a b"), (3L, null), (4L, "c"), (null, "d"))
      .toDF("doc_id", "text")
    val fp = df.withColumn("__fp",
      graft.functions.TextFunctions.fingerprint(col("text")))
    val aggregated = fp.join(fp.groupBy("__fp").agg(min("doc_id").as("doc_id")),
      Seq("__fp", "doc_id"), "left_semi").drop("__fp")
    def rows(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.collect().map(_.toString).toSeq.sorted
    val kept = rows(Dedup.exactByFingerprint(df, "text", "doc_id"))
    kept shouldBe Seq("[1, A  b]", "[1,a b]", "[4,c]")
    kept shouldBe rows(aggregated)
  }

  test("minhash LSH finds the constructed near-dup pair, and every reported " +
    "pair meets the exact-jaccard threshold (soundness)") {
    val pairs = Dedup.minHashLsh(docs, "text", "doc_id",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.3)
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    got should contain(0L -> 1L)  // 8/10 shared 3-gram shingles
    got should contain(0L -> 3L)  // identical
    pairs.select("jaccard").as[Double].collect().foreach(_ should be >= 0.3)
  }

  /** A seeded corpus shaped for the LSH path comparison: random texts
    * over a small vocabulary (chance collisions), exact and one-word-off
    * copies of some of them, an empty and a null text, five copies of
    * one text (a bucket a small maxBucket overfills) and a repeated id. */
  private def lshCorpus(seed: Long): Seq[(Long, String)] = {
    val rng = new scala.util.Random(seed)
    val vocab = (0 until 30).map(i => s"w$i")
    def text(n: Int) = Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" ")
    val base = (0L until 40L).map(i => (i, text(6 + rng.nextInt(10))))
    val exact = base.take(6).map { case (i, t) => (i + 1000L, t) }
    val near = base.slice(6, 12).map { case (i, t) =>
      (i + 2000L, (t.split(" ").dropRight(1) :+ "changed").mkString(" "))
    }
    val boiler = (3000L until 3005L).map(i => (i, "same boilerplate text every time"))
    base ++ exact ++ near ++ boiler ++
      Seq((4000L, ""), (4001L, null), (7L, base(8)._2))
  }

  /** `df`'s (id_a, id_b, jaccard bits) rows, sorted, ids as strings. */
  private def lshBits(df: org.apache.spark.sql.DataFrame): Seq[(String, String, Long)] =
    df.collect().map(r => (r.get(0).toString, r.get(1).toString,
      java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).toSeq.sorted

  private def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  test("minHashLsh's driver path returns the Spark plan's rows bit for bit: " +
    "random corpora with planted exact and near copies, empty and null " +
    "texts, a repeated id, long and string ids, an overfull bucket under a " +
    "small maxBucket, maxBucket = Int.MaxValue, thresholds 0.0 and 1.0") {
    for (seed <- Seq(1L, 2L)) {
      val longIds = lshCorpus(seed).toDF("doc_id", "text")
      val stringIds = longIds.withColumn("doc_id", concat(lit("d"), col("doc_id")))
      for (corpus <- Seq(longIds, stringIds);
           (maxBucket, threshold) <- Seq((1000, 0.5), (3, 0.0),
             (Int.MaxValue, 0.0), (Int.MaxValue, 1.0))) {
        def run(onDriver: Boolean) = Dedup.minHashLshGated(corpus, "text",
          "doc_id", shingleSize = 2, numHashes = 32, bands = 16,
          threshold = threshold, maxBucket = maxBucket, serveOnDriver = onDriver)
        val (driver, onSpark) = (run(true), run(false))
        withClue(s"seed=$seed ${corpus.schema("doc_id").dataType.simpleString} " +
            s"maxBucket=$maxBucket threshold=$threshold: ") {
          isLocal(driver) shouldBe true
          isLocal(onSpark) shouldBe false
          driver.schema shouldBe onSpark.schema
          val got = lshBits(driver)
          got shouldBe lshBits(onSpark)
          got should not be empty
        }
      }
    }
  }

  test("a batch over either driver gate of minHashLsh is served by the " +
    "Spark plan, with the same rows") {
    val corpus = lshCorpus(3L).toDF("doc_id", "text")
    def run(driverHashes: Long, driverPairWork: Long) = Dedup.minHashLshGated(
      corpus, "text", "doc_id", shingleSize = 2, numHashes = 32, bands = 16,
      threshold = 0.3, driverHashes = driverHashes, driverPairWork = driverPairWork)
    val served = run(Dedup.DriverHashes, Dedup.DriverPairWork)
    isLocal(served) shouldBe true
    // the batch's measures (a 32-hash signature is charged as 64 hashes)
    val (hashWork, pairWork) = Dedup.gateMeasures(corpus, "text", "doc_id",
      shingleSize = 2, numHashes = 32, bands = 16)
    pairWork should be > 0L
    // one hash-width of weight over the signature gate, one unit over the
    // pair gate
    for (over <- Seq(run(hashWork - 64, Dedup.DriverPairWork),
                     run(Dedup.DriverHashes, pairWork - 1))) {
      isLocal(over) shouldBe false
      lshBits(over) shouldBe lshBits(served)
    }
    // the pair gate is global: at exactly the batch's pair work it serves
    isLocal(run(Dedup.DriverHashes, pairWork)) shouldBe true
  }

  test("minHashLsh's probe ships at most its weight: each partition stops " +
    "at its share, and a batch over the weight is refused") {
    val shingled = lshCorpus(5L).toDF("doc_id", "text").repartition(4)
      .select(col("doc_id"), graft.functions.HashFunctions.wordShingles(
        graft.functions.TextFunctions.tokens(lower(col("text"))), 2).as("__shingles"))
      .localCheckpoint(true)
    // a document weighs its shingles + 64
    def weight(r: org.apache.spark.sql.Row): Long =
      (if (r.isNullAt(1)) 0L else r.getSeq[Any](1).length.toLong) + 64L
    val all = shingled.collect()
    val total = all.map(weight).sum
    val heaviest = shingled.rdd.mapPartitions(it => Iterator(it.map(weight).sum))
      .collect().max
    Dedup.probeShingles(shingled, total * 4).map(_.length) shouldBe Some(all.length)
    // a share one under the heaviest partition's weight refuses the batch
    Dedup.probeShingles(shingled, (heaviest - 1) * 4) shouldBe None
    Dedup.probeShingles(shingled, total - 1) shouldBe None
    Dedup.probeShingles(shingled, 0L) shouldBe None
  }

  test("a warm minHashLsh -> dropNearDuplicates over a small checkpointed " +
    "batch runs only the bounded collect's jobs, and dropNearDuplicates " +
    "runs none") {
    val batch = lshCorpus(4L).toDF("doc_id", "text")
      .filter(col("text").isNotNull).localCheckpoint(true)
    var kept = 0L
    def pass(phase: JobTap.Phase): Unit = {
      val pairs = phase("minHashLsh")(Dedup.minHashLsh(batch, "text", "doc_id"))
      val survivors = phase("dropNearDuplicates")(
        Dedup.dropNearDuplicates(batch, "doc_id", pairs))
      kept = survivors.count()
    }
    JobTap.count(spark.sparkContext)(pass) // warm
    val jobs = JobTap.count(spark.sparkContext)(pass)
    // the probe of the persisted shingles, alone
    val probe = JobTap.count(spark.sparkContext) { phase =>
      val shingled = batch.select(col("doc_id"),
        graft.functions.HashFunctions.wordShingles(
          graft.functions.TextFunctions.tokens(lower(col("text"))), 3))
        .persist()
      phase("collect")(Dedup.probeShingles(shingled, Dedup.DriverHashes / 64))
      shingled.unpersist()
    }
    jobs.get("dropNearDuplicates") shouldBe None
    jobs("minHashLsh") shouldBe probe("collect")
    kept should be < batch.count()
  }

  test("minHashLshAgainst pairs the new batch against the corpus and within " +
    "itself, but NEVER re-pairs the old corpus against itself") {
    val old = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"), // old-old dup: must NOT emit
      (2L, "completely different content about spark engines and shuffles")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // dup of old 0 and 1
      (11L, "entirely novel text with no duplicate partner anywhere at all"),
      (12L, "entirely novel text with no duplicate partner anywhere at all") // new-new dup of 11
    ).toDF("doc_id", "text")
    val got = Dedup.minHashLshAgainst(fresh, old, "text", "doc_id",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 1.0)
      .select("id_new", "id_other", "other_is_new")
      .as[(Long, Long, Boolean)].collect().toSet
    got shouldBe Set(
      (10L, 0L, false), (10L, 1L, false), // new vs both old copies
      (11L, 12L, true))                   // within-batch, emitted once, id-ordered
  }

  test("minHashLshAgainst matches a re-ingested row even under a colliding " +
    "id, and verifies each side against its own text") {
    val old = Seq(
      (7L, "alpha beta gamma delta epsilon zeta eta theta"),
      (8L, "one two three four five six seven eight nine")
    ).toDF("doc_id", "text")
    // id 7 re-ingested with identical text; id 8 re-uses an old id for
    // DIFFERENT text (must not pair: verification reads each side's own doc)
    val fresh = Seq(
      (7L, "alpha beta gamma delta epsilon zeta eta theta"),
      (8L, "utterly unrelated words about container orchestration budgets")
    ).toDF("doc_id", "text")
    val got = Dedup.minHashLshAgainst(fresh, old, "text", "doc_id",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_new", "id_other", "other_is_new")
      .as[(Long, Long, Boolean)].collect().toSet
    got shouldBe Set((7L, 7L, false))
  }

  test("minHashLshAgainst with persisted band keys (the amortized-state " +
    "regime) returns exactly the same pairs as the re-tokenizing path") {
    val old = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about spark engines and shuffles")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),
      (11L, "entirely novel text with no duplicate partner anywhere at all"),
      (12L, "entirely novel text with no duplicate partner anywhere at all")
    ).toDF("doc_id", "text")
    val keys = Dedup.minHashBandKeys(old, "text", "doc_id",
      shingleSize = 3, numHashes = 64, bands = 16)
    keys.columns.toSeq shouldBe Seq("doc_id", "band_key")
    def run(ok: Option[org.apache.spark.sql.DataFrame]) =
      Dedup.minHashLshAgainst(fresh, old, "text", "doc_id",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 1.0,
        oldKeys = ok)
        .select("id_new", "id_other", "other_is_new", "jaccard")
        .as[(Long, Long, Boolean, Double)].collect().toSet
    val direct = run(None)
    val stored = run(Some(keys))
    stored shouldBe direct
    stored.map(p => (p._1, p._2, p._3)) shouldBe Set(
      (10L, 0L, false), (10L, 1L, false), (11L, 12L, true))
  }

  test("minHashLshAgainst stored-keys path: maxBucket caps COMBINED old+new " +
    "bucket occupancy — the batch-band semi-join restriction of the stored " +
    "side must not change the cap arithmetic or the emitted set") {
    val a = "the quick brown fox jumps over the lazy dog"
    val b = "completely different content about spark engines and shuffles"
    // identical texts collide in EVERY band, so each band bucket's size is
    // the group size: a-group = 3 old + 1 new = 4 > cap (dropped whole),
    // b-group = 1 old + 1 new = 2 <= cap (pair emitted)
    val old = Seq((0L, a), (1L, a), (2L, a), (3L, b)).toDF("doc_id", "text")
    val fresh = Seq((10L, a), (11L, b)).toDF("doc_id", "text")
    val keys = Dedup.minHashBandKeys(old, "text", "doc_id",
      shingleSize = 3, numHashes = 64, bands = 16)
    def run(ok: Option[org.apache.spark.sql.DataFrame]) =
      Dedup.minHashLshAgainst(fresh, old, "text", "doc_id",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 1.0,
        maxBucket = 3, oldKeys = ok)
        .select("id_new", "id_other", "other_is_new")
        .as[(Long, Long, Boolean)].collect().toSet
    val direct = run(None)
    val stored = run(Some(keys))
    stored shouldBe direct
    stored shouldBe Set((11L, 3L, false))
  }

  test("minHashLshAgainst never asks Spark to cache a relation that is " +
    "already cached, with or without stored keys") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val old = Seq((0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "completely different content about spark engines and shuffles"))
      .toDF("doc_id", "text")
    val fresh = Seq((10L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val keys = Dedup.minHashBandKeys(old, "text", "doc_id")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("dedup-double-cache", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.CacheManager").asInstanceOf[CoreLogger]
    logger.addAppender(appender)
    try {
      Seq(None, Some(keys)).foreach { ok =>
        spark.catalog.clearCache()
        Dedup.minHashLshAgainst(fresh, old, "text", "doc_id", threshold = 1.0,
          oldKeys = ok).select("id_new", "id_other").as[(Long, Long)]
          .collect().toSet shouldBe Set((10L, 0L))
      }
    } finally {
      logger.removeAppender(appender)
      appender.stop()
    }
    seen.asScala.filter(_.contains("Asked to cache already cached data")) shouldBe empty
  }

  test("PROPERTY: minHashLshAgainst equals the full self-join restricted to " +
    "pairs touching the batch — exactly, at a probabilistic threshold: both " +
    "paths derive identical signatures, so bucket collisions coincide") {
    val words = Vector("alpha", "beta", "gamma", "delta",
      "epsilon", "zeta", "eta", "theta")
    (0 until 5).foreach { it =>
      val rnd = new scala.util.Random(42 + it)
      def doc() = (0 until (3 + rnd.nextInt(6)))
        .map(_ => words(rnd.nextInt(words.size))).mkString(" ")
      val old = (0L until 8L).map(i => (i, doc())).toDF("doc_id", "text")
      val fresh = (100L until 105L).map(i => (i, doc())).toDF("doc_id", "text")
      val inc = Dedup.minHashLshAgainst(fresh, old, "text", "doc_id",
          shingleSize = 2, numHashes = 16, bands = 8, threshold = 0.3)
        .select("id_new", "id_other").as[(Long, Long)].collect().toSet
        .map((p: (Long, Long)) => (math.min(p._1, p._2), math.max(p._1, p._2)))
      val full = Dedup.minHashLsh(old.unionByName(fresh), "text", "doc_id",
          shingleSize = 2, numHashes = 16, bands = 8, threshold = 0.3)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
        .filter(p => p._1 >= 100L || p._2 >= 100L)
      withClue(s"iteration $it: ") { inc shouldBe full }
    }
  }

  test("containmentPairs scores a prefix quote 1.0 on the quote side while " +
    "its Jaccard is far below threshold, and reports both directions") {
    val corpus = Seq(
      (0L, "alpha beta gamma delta " +
        (1 to 40).map(i => s"filler$i").mkString(" ")), // long page
      (1L, "alpha beta gamma delta"),                   // its 4-token quote
      (2L, "unrelated content entirely elsewhere")
    ).toDF("doc_id", "text")
    val rows = Dedup.containmentPairs(corpus, "text", "doc_id",
      shingleSize = 3, threshold = 0.9).collect()
    rows.length shouldBe 1
    val r = rows.head
    (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) shouldBe (0L, 1L)
    // quote side fully contained; page side far from it
    r.getAs[Double]("cont_b") shouldBe 1.0
    r.getAs[Double]("cont_a") should be < 0.1
    // inter == the quote's whole shingle set
    r.getAs[Long]("inter") shouldBe r.getAs[Long]("n_b")
  }

  test("PROPERTY: jaccard pairs are a subset of containment pairs at the " +
    "same threshold, and shared (inter, n_a, n_b) values agree exactly — " +
    "jaccard = inter/union <= inter/min(n_a, n_b) = max containment") {
    val words = Vector("red", "green", "blue", "cyan", "teal", "plum")
    (0 until 3).foreach { it =>
      val rnd = new scala.util.Random(7 + it)
      val corpus = (0L until 10L).map { i =>
        (i, (0 until (3 + rnd.nextInt(5)))
          .map(_ => words(rnd.nextInt(words.size))).mkString(" "))
      }.toDF("doc_id", "text")
      val thr = 0.4
      val jac = Dedup.ngramJaccardPairs(corpus, "text", "doc_id",
          shingleSize = 2, threshold = thr, strategy = "single")
        .select("id_a", "id_b", "inter", "jaccard")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      val cont = Dedup.containmentPairs(corpus, "text", "doc_id",
          shingleSize = 2, threshold = thr)
        .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
          (r.getAs[Long]("inter"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b")))
        .toMap
      withClue(s"iteration $it: ") {
        jac.keySet.subsetOf(cont.keySet) shouldBe true
        jac.foreach { case (k, (inter, j)) =>
          val (cInter, na, nb) = cont(k)
          cInter shouldBe inter
          // the jaccard value is re-derivable from containment's counts
          j shouldBe (inter.toDouble / (na + nb - inter)) +- 1e-6
        }
      }
    }
  }

  test("containmentPairs maxDf drops stop-shingles from the index but keeps " +
    "them in denominators (containment never overestimates)") {
    val boiler = "common shared boilerplate header line"
    val corpus = Seq(
      (0L, s"$boiler unique body zero zero zero"),
      (1L, s"$boiler unique body one one one"),
      (2L, s"$boiler unique body two two two")
    ).toDF("doc_id", "text")
    val unguarded = Dedup.containmentPairs(corpus, "text", "doc_id",
      shingleSize = 3, threshold = 0.0)
    // every pair shares only the boilerplate shingles
    unguarded.count() shouldBe 3
    val guarded = Dedup.containmentPairs(corpus, "text", "doc_id",
      shingleSize = 3, threshold = 0.0, maxDf = 2L)
    // boilerplate grams hit df=3 > maxDf and leave the index; no shared
    // shingles remain, so no pairs at all — and no pair ever gained score
    guarded.count() shouldBe 0
  }

  test("simhash: identical docs collide at hamming 0; near-dups within bound") {
    val pairs = Dedup.simHash(docs, "text", "doc_id", chunks = 4, maxHamming = 3)
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    got.find(p => p._1 == 0L && p._2 == 3L).map(_._3) shouldBe Some(0)
    got.foreach(_._3 should be <= 3)
  }

  test("ngramJaccardPairs computes exact intersection/union counts") {
    val two = Seq(
      (0L, "a b c d"),  // 3-shingles: {a b c, b c d}
      (1L, "a b c e")   // 3-shingles: {a b c, b c e}
    ).toDF("doc_id", "text")
    val out = Dedup.ngramJaccardPairs(two, "text", "doc_id",
      shingleSize = 3, threshold = 0.0).collect()
    out.length shouldBe 1
    val r = out.head
    (r.getLong(2), r.getLong(3), r.getDouble(4)) shouldBe ((1L, 3L, 0.333333))
  }

  test("maxDf drops stop-shingles from candidate generation (skew guard)") {
    val boiler = (0L to 9L).map(i => (i, s"same boilerplate everywhere $i"))
      .toDF("doc_id", "text")
    // every doc shares 'same boilerplate everywhere'; df=10 > maxDf=5 -> no pairs
    val out = Dedup.ngramJaccardPairs(boiler, "text", "doc_id",
      shingleSize = 3, threshold = 0.0, maxDf = 5)
    out.count() shouldBe 0
  }

  test("LSH bucket cap drops overfull buckets (skew guard): identical docs " +
    "over a tiny maxBucket produce no candidate pairs") {
    val boiler = (0L to 9L).map(i => (i, "same text every single time"))
      .toDF("doc_id", "text")
    // all 10 docs share every band -> every bucket has 10 > maxBucket
    Dedup.minHashLsh(boiler, "text", "doc_id",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.0,
      maxBucket = 5).count() shouldBe 0
    // with the cap above the bucket size the same corpus pairs fully
    Dedup.minHashLsh(boiler, "text", "doc_id",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.0,
      maxBucket = 100).count() shouldBe 45 // C(10,2)
    // Int.MaxValue lifts the cap entirely — the setting the planted-pair
    // contract queries rely on for unconditional row-level recall (and a
    // guard that the long-count comparison never overflows at the extreme)
    Dedup.minHashLsh(boiler, "text", "doc_id",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.0,
      maxBucket = Int.MaxValue).count() shouldBe 45
  }

  test("minhash-prefilter strategy reproduces the exact path's pairs and " +
    "values on a high-jaccard corpus, including the maxDf union arithmetic") {
    // defaults (128 hashes / 64 bands, r = 2) give near-total recall for
    // the fixture's pair jaccards (>= 0.6), so the hybrid must emit the
    // IDENTICAL rows: same pairs, same (inter, uni, jaccard) — the union
    // sized from the pre-drop shingle sets exactly like the exact path
    val base = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      shingleSize = 3, threshold = 0.1, maxDf = 4)
      .orderBy("id_a", "id_b").collect().toSeq
    val hybrid = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      shingleSize = 3, threshold = 0.1, maxDf = 4, strategy = "minhash")
      .orderBy("id_a", "id_b").collect().toSeq
    base.nonEmpty shouldBe true
    hybrid shouldBe base
  }

  test("strategy=auto is stats-gated: sparse corpora stay on the exact " +
    "single-pass path, and dense-shingle corpora escalate to the minhash " +
    "prefilter") {
    val shingled = docs.select(col("doc_id"),
      graft.functions.HashFunctions
        .charShingles(trim(lower(col("text"))), 5).as("__shs"))
    // the fixture is tiny: the measured default knee keeps it exact
    Dedup.autoStrategy(shingled, "doc_id") shouldBe "single"
    // a knee below the fixture's volume escalates — the same gate that
    // fires on a dense-shingle corpus, exercised by shrinking the knee
    // instead of materializing 10M shingle rows in a unit test
    Dedup.autoStrategy(shingled, "doc_id", knee = 10L) shouldBe "minhash"
    // end-to-end: below the knee auto IS the exact path, output-identical
    val auto = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      shingleSize = 3, threshold = 0.1, strategy = "auto")
      .orderBy("id_a", "id_b").collect().toSeq
    val single = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      shingleSize = 3, threshold = 0.1, strategy = "single")
      .orderBy("id_a", "id_b").collect().toSeq
    auto shouldBe single
  }

  test("autoStrategy samples corpus-wide, not a partition prefix: a corpus " +
    "whose leading rows are unrepresentatively small still escalates, and " +
    "an empty corpus stays on the exact path") {
    // first 1000 ids carry 1 shingle, last 1000 carry 100 — a prefix
    // sample reads mean 1 (estimate 2000 < knee -> "single", the bug);
    // the id-coin sample spreads over both halves (true mean 50.5,
    // estimate ~101k > knee -> "minhash")
    val biased = spark.range(0, 2000).select(col("id").as("doc_id"),
      when(col("id") < 1000, array(lit("s")))
        .otherwise(array((1 to 100).map(i => lit(s"s$i")): _*)).as("__shs"))
    Dedup.autoStrategy(biased, "doc_id", knee = 10000L) shouldBe "minhash"
    Dedup.autoStrategy(biased.limit(0), "doc_id") shouldBe "single"
  }

  test("autoBands picks the most selective banding that keeps >=95% recall " +
    "at the threshold, degrading to r=1 for low/zero thresholds") {
    // 1-(1-t^r)^b >= 0.95 <=> b >= ~3/t^r, b = numHashes/r
    Dedup.autoBands(128, 0.3) shouldBe 64   // r=2: 64 >= 3/0.09 = 33
    Dedup.autoBands(128, 0.1) shouldBe 128  // r=2 would need 300 bands -> r=1
    Dedup.autoBands(128, 0.7) shouldBe 32   // r=4: 32 >= 3/0.24 = 12.5
    Dedup.autoBands(128, 0.0) shouldBe 128  // no finite b at t=0 -> r=1
    // the guarantee itself: P[candidate] at j = t clears 0.95
    for (t <- Seq(0.1, 0.2, 0.3, 0.5, 0.7, 0.9)) {
      val b = Dedup.autoBands(128, t)
      val r = 128 / b
      (1.0 - math.pow(1.0 - math.pow(t, r), b)) should be >= 0.95
    }
  }

  test("minhash-prefilter strategy is sound on char shingles: every emitted " +
    "pair appears in the exact path's output with identical values") {
    val exact = Dedup.charJaccardPairs(docs, "text", "doc_id",
      shingleSize = 5, threshold = 0.2).collect().toSet
    val hybrid = Dedup.charJaccardPairs(docs, "text", "doc_id",
      shingleSize = 5, threshold = 0.2, strategy = "minhash").collect().toSet
    hybrid.nonEmpty shouldBe true
    hybrid.subsetOf(exact) shouldBe true
  }

  test("broadcast size gate: above maxBroadcastRows the stop-set and " +
    "candidate-id joins run shuffled instead of broadcast, with identical " +
    "results (high-duplication corpus guard)") {
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val savedAqe = conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    try {
      // kill automatic broadcasts so any BroadcastExchange in the plan can
      // only come from the explicit size-gated hint
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      // high-duplication corpus: ten docs sharing boilerplate shingles
      // (df=10 > maxDf=5 -> NONEMPTY stop set; an empty one would count
      // 0 <= 0 and legitimately broadcast) plus one near-dup pair whose
      // shingles survive stop-shingle removal
      val corpus = ((0L to 9L).map(i =>
          (i, s"common header boilerplate prefix line number $i")) ++ Seq(
          (10L, "alpha beta gamma delta epsilon"),
          (11L, "alpha beta gamma delta zeta"))).toDF("doc_id", "text")
      // the exploded shingles and the maxDf = 5 stop set, as the exact
      // pair operators build them
      val sh = corpus.select(col("doc_id"), explode(
        graft.functions.HashFunctions.wordShingles(
          graft.functions.TextFunctions.tokens(lower(col("text"))), 3)).as("__sh"))
      val stop = sh.groupBy("__sh").agg(count(lit(1)).as("__df"))
        .filter(col("__df") > 5).select("__sh")
      // an earlier test's persisted fragments would splice InMemoryRelations
      // (with their ORIGINAL physical plans, broadcasts included) into this
      // test's plans — inspect fresh plans only
      def run(join: => org.apache.spark.sql.DataFrame) = {
        spark.catalog.clearCache()
        join.orderBy("doc_id", "__sh")
      }
      val gated = run(Dedup.sizeGatedFilterJoin(sh, stop, Seq("__sh"),
        "left_anti", maxBroadcastRows = 0L))
      val gatedRows = gated.collect().toSeq
      gated.queryExecution.executedPlan.toString should not include "BroadcastExchange"
      val hinted = run(Dedup.sizeGatedFilterJoin(sh, stop, Seq("__sh"),
        "left_anti"))
      val hintedRows = hinted.collect().toSeq
      hinted.queryExecution.executedPlan.toString should include("BroadcastExchange")
      gatedRows.nonEmpty shouldBe true
      hintedRows shouldBe gatedRows
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      savedAqe match {
        case Some(v) => conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None    => conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("operator-internal caches self-release once the first consuming " +
    "action completes (no CacheManager accumulation in long-lived drivers)") {
    import org.apache.spark.sql.graftbridge.Bridge
    spark.catalog.clearCache()
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      shingleSize = 3, threshold = 0.1, maxDf = 4)
    // construction persisted the shingle intermediate + gate small sides
    Bridge.hasCachedData(spark) shouldBe true
    // The operator's own eager gate probes finished just before the
    // release listener registered; their execution-end events ride the
    // SAME async bus and may be delivered after registration. Give the
    // bus time to drain and assert they did NOT release the cache (the
    // QueryExecution-id sentinel must exclude them) — without this the
    // final assert would also pass on a premature release.
    Thread.sleep(500)
    Bridge.hasCachedData(spark) shouldBe true
    pairs.count()
    // release rides the async QueryExecutionListener bus; poll briefly
    val deadline = System.nanoTime() + 10000000000L
    while (Bridge.hasCachedData(spark) && System.nanoTime() < deadline)
      Thread.sleep(50)
    Bridge.hasCachedData(spark) shouldBe false
  }

  test("dropBoilerplateLines removes cross-document boilerplate lines, " +
    "keeps per-document lines in order, counts in-doc repeats once, and " +
    "keeps a fully-boilerplate doc as an empty-text row") {
    val boiler = "subscribe to our newsletter"
    val docs = Seq(
      (1L, s"$boiler\nunique line one\nunique line two"),
      (2L, s"alpha beta\n$boiler\ngamma delta"),
      (3L, s"$boiler\n  $boiler  \nsolo content"), // repeats in-doc + padding
      (4L, boiler),                                 // fully boilerplate
      (5L, "entirely original document text")
    ).toDF("doc_id", "text")
    // boiler appears in 4 distinct docs (doc 3's two copies count ONCE,
    // and the padded copy trims to the same line); threshold 3 drops it
    val out = Dedup.dropBoilerplateLines(docs, "text", "doc_id",
        maxDocFreq = 3L)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    out shouldBe Array(
      (1L, "unique line one\nunique line two", 3L, 1L),
      (2L, "alpha beta\ngamma delta", 3L, 1L),
      (3L, "solo content", 3L, 2L),
      (4L, "", 1L, 1L),
      (5L, "entirely original document text", 1L, 0L))
    // threshold 4: nothing crosses, every doc unchanged
    val loose = Dedup.dropBoilerplateLines(docs, "text", "doc_id",
        maxDocFreq = 4L)
      .agg(sum(col("n_dropped"))).head().getLong(0)
    loose shouldBe 0L
    an[IllegalArgumentException] should be thrownBy
      Dedup.dropBoilerplateLines(docs, "text", "doc_id", maxDocFreq = 0L)

    // frozen-model apply: a LATER ingest batch is cleaned against the
    // trained corpus boilerplate even though within the batch the line is
    // rare (df = 1 here — self-training would keep it)
    val model = Dedup.boilerplateLines(docs, "text", "doc_id", maxDocFreq = 3L)
    model.select("line").as[String].collect() shouldBe Array(boiler)
    val batch = Seq((10L, s"fresh content\n$boiler")).toDF("doc_id", "text")
    val applied = Dedup.dropBoilerplateLines(batch, "text", "doc_id",
        maxDocFreq = 3L, model = Some(model))
      .head()
    applied.getString(1) shouldBe "fresh content"
    applied.getLong(3) shouldBe 1L

    // the zero-shuffle scan path is row-identical to the join path for
    // the same frozen model — on the training corpus, the new batch, AND
    // a batch with a NULL-text row (both paths must propagate NULL in all
    // three outputs; the join path once rewrote NULL text to '')
    val modelLines = model.select("line").as[String].collect().toSeq
    val nullBatch = Seq((20L, null.asInstanceOf[String]),
      (21L, s"kept line\n$boiler")).toDF("doc_id", "text")
    val nullRow = Dedup.dropBoilerplateLines(nullBatch, "text", "doc_id",
        maxDocFreq = 3L, model = Some(model))
      .filter(col("doc_id") === 20L).head()
    nullRow.isNullAt(1) shouldBe true
    nullRow.isNullAt(2) shouldBe true
    nullRow.isNullAt(3) shouldBe true
    for (input <- Seq(docs, batch, nullBatch)) {
      val joinPath = Dedup.dropBoilerplateLines(input, "text", "doc_id",
          maxDocFreq = 3L, model = Some(model))
        .orderBy("doc_id").collect().map(_.toSeq)
      val scanPath = Dedup.dropBoilerplateLinesScan(input, "text", "doc_id",
          modelLines)
        .orderBy("doc_id").collect().map(_.toSeq)
      scanPath shouldBe joinPath
    }
    // and the scan plan is genuinely exchange-free (stream-compatible)
    val plan = Dedup.dropBoilerplateLinesScan(docs, "text", "doc_id",
      modelLines).queryExecution.executedPlan.toString
    plan should not include "Exchange"
  }

  test("decontaminate removes eval docs and their near-copies, keeps " +
    "unrelated docs, and honors minOverlap") {
    val corpus = Seq(
      (1L, "the benchmark question about apples and oranges here"),
      (2L, "the benchmark question about apples and oranges here exactly"), // near-copy of eval
      (3L, "completely unrelated training document about spark shuffles"),
      (4L, "shares about apples and only that much text")  // 1 shared 3-gram
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "the benchmark question about apples and oranges here"))
      .toDF("doc_id", "text")
    val kept1 = Dedup.decontaminate(corpus, eval, "text", "doc_id",
      shingleSize = 3, minOverlap = 1).select("doc_id").as[Long].collect().sorted
    kept1 shouldBe Array(3L)  // doc 4 shares "about apples and"
    val kept3 = Dedup.decontaminate(corpus, eval, "text", "doc_id",
      shingleSize = 3, minOverlap = 3).select("doc_id").as[Long].collect().sorted
    kept3 shouldBe Array(3L, 4L)  // one shared shingle no longer disqualifies
  }

  test("decontaminateBloom is row-identical to decontaminate, including " +
    "under a deliberately undersized (high-fpp) filter") {
    val corpus = Seq(
      (1L, "the benchmark question about apples and oranges here"),
      (2L, "the benchmark question about apples and oranges here exactly"),
      (3L, "completely unrelated training document about spark shuffles"),
      (4L, "shares about apples and only that much text")
    ).toDF("doc_id", "text")
    val eval = Seq((100L, "the benchmark question about apples and oranges here"))
      .toDF("doc_id", "text")
    for (minOverlap <- Seq(1L, 3L)) {
      val exact = Dedup.decontaminate(corpus, eval, "text", "doc_id",
        shingleSize = 3, minOverlap = minOverlap)
        .select("doc_id").as[Long].collect().sorted
      // well-sized filter
      Dedup.decontaminateBloom(corpus, eval, "text", "doc_id",
        shingleSize = 3, minOverlap = minOverlap, expectedItems = 1000L)
        .select("doc_id").as[Long].collect().sorted shouldBe exact
      // undersized filter: high fpp floods the exact verify with false
      // positives, which it must reject — output unchanged
      Dedup.decontaminateBloom(corpus, eval, "text", "doc_id",
        shingleSize = 3, minOverlap = minOverlap, expectedItems = 1000L,
        fpp = 0.5)
        .select("doc_id").as[Long].collect().sorted shouldBe exact
    }
  }

  test("decontaminateBloom honors an expectedItems above Spark's runtime " +
    "bloomFilter caps (confs raised on a private cloned session — the " +
    "shared session's caps are never touched)") {
    val corpus = Seq(
      (1L, "the benchmark question about apples and oranges here"),
      (3L, "completely unrelated training document about spark shuffles"))
      .toDF("doc_id", "text")
    val eval = Seq((100L, "the benchmark question about apples and oranges here"))
      .toDF("doc_id", "text")
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val (items0, bits0) = (spark.conf.get(itemsKey), spark.conf.get(bitsKey))
    // default caps are 4M items / 64M bits — 10M items would be silently
    // clamped without the conf raise; the call must succeed and the
    // SHARED session's caps must be untouched throughout (the raise
    // lives on a private clone)
    Dedup.decontaminateBloom(corpus, eval, "text", "doc_id",
      shingleSize = 3, expectedItems = 10000000L)
      .select("doc_id").as[Long].collect().sorted shouldBe Array(3L)
    spark.conf.get(itemsKey) shouldBe items0
    spark.conf.get(bitsKey) shouldBe bits0
    // the EFFECTIVE sizing, not just the restore: a silently clamped
    // filter is output-identical (undersizing only degrades fpp), so probe
    // the built filter's byte length — ~optimalNumOfBits(10M, 0.01)/8 ≈
    // 12 MB, strictly above the 64M-bit clamp's 8 MiB
    val eSh = eval.select(explode(
      graft.functions.HashFunctions.wordShingles(
        graft.functions.TextFunctions.tokens(lower(col("text"))), 3))
      .as("__sh")).distinct()
    val bytes = Dedup.buildShingleBloom(eSh, expectedItems = 10000000L,
      fpp = 0.01)
    val wantBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(10000000L, 0.01)
    bytes.length.toLong should be > 64L * 1024 * 1024 / 8 // beats the clamp
    bytes.length.toLong should be >= wantBits / 8
    bytes.length.toLong should be < wantBits / 8 + 1024 // header slack only
    spark.conf.get(itemsKey) shouldBe items0
    spark.conf.get(bitsKey) shouldBe bits0
  }

  test("decontaminateBloom with an empty eval set keeps the whole corpus") {
    val corpus = Seq((1L, "some text here"), (2L, "other text there"))
      .toDF("doc_id", "text")
    val eval = corpus.filter(col("doc_id") < 0)
    Dedup.decontaminateBloom(corpus, eval, "text", "doc_id",
      shingleSize = 3).count() shouldBe 2L
  }

  test("clusters resolves transitive chains (A~B, B~C, D~E -> {A,B,C}, {D,E}) " +
    "and dropNearDuplicates keeps exactly the canonical representative") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val got = Dedup.clusters(pairs)
      .as[(Long, Long)].collect().toMap
    got shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L)

    val corpus = Seq(1L, 2L, 3L, 7L, 9L, 42L).map(i => (i, s"doc $i"))
      .toDF("doc_id", "text")
    val kept = Dedup.dropNearDuplicates(corpus, "doc_id", pairs)
      .select("doc_id").as[Long].collect().sorted
    // one per cluster + the never-paired doc 42
    kept shouldBe Array(1L, 7L, 42L)
  }

  test("pointer-doubling clusters variant matches the default on chains, " +
    "branches, and isolated pairs — and converges on a chain DEEPER than " +
    "maxIter hops would allow plain propagation") {
    // two 40-deep chains + a star + a pair; plain propagation needs ~40
    // hops, path halving must finish inside maxIter = 16
    val chainA = (0L until 40L).map(i => (i, i + 1))
    val chainB = (100L until 140L).map(i => (i, i + 1))
    val star = Seq((200L, 201L), (200L, 202L), (200L, 203L))
    val pairs = (chainA ++ chainB ++ star ++ Seq((300L, 301L)))
      .toDF("id_a", "id_b")
    // maxDriverEdges = 0 pins the DISTRIBUTED loop (the default would
    // route these tiny graphs onto the driver union-find fast path)
    val doubled = Dedup.clusters(pairs, maxIter = 16, pointerDoubling = true,
        maxDriverEdges = 0L)
      .as[(Long, Long)].collect().toMap
    val expected = Dedup.clusters(pairs, maxIter = 100, maxDriverEdges = 0L)
      .as[(Long, Long)].collect().toMap
    doubled shouldBe expected
    doubled.filter(_._1 <= 40L).values.toSet shouldBe Set(0L)
  }

  test("dropNearDuplicatesBy keeps the best-scoring row per cluster, not " +
    "the minimal id, and leaves unpaired rows untouched") {
    val corpus = Seq(
      (1L, "v1", 0.2), (2L, "v2", 0.9), (3L, "v3", 0.5), // cluster {1,2,3}
      (7L, "v7", 0.1), (9L, "v9", 0.8),                  // cluster {7,9}
      (42L, "solo", 0.0)
    ).toDF("doc_id", "text", "quality")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val kept = Dedup.dropNearDuplicatesBy(corpus, "doc_id", pairs,
        negate(col("quality")))
      .select("doc_id").as[Long].collect().sorted
    kept shouldBe Array(2L, 9L, 42L) // highest quality per cluster + solo
  }

  test("clusters is generic over the id type: string ids label by " +
    "lexicographic minimum — on the driver fast path AND the loop") {
    val pairs = Seq(("doc-b", "doc-a"), ("doc-b", "doc-c")).toDF("id_a", "id_b")
    val expected = Map("doc-a" -> "doc-a", "doc-b" -> "doc-a", "doc-c" -> "doc-a")
    Dedup.clusters(pairs).as[(String, String)].collect().toMap shouldBe expected
    Dedup.clusters(pairs, maxDriverEdges = 0L)
      .as[(String, String)].collect().toMap shouldBe expected
  }

  test("clusters converges on a long chain within the diameter bound") {
    // path graph 0-1-2-...-9: worst case for min-label propagation
    // (maxDriverEdges = 0 pins the distributed loop)
    val chain = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.clusters(chain, maxDriverEdges = 0L)
      .as[(Long, Long)].collect()
    got.length shouldBe 10
    got.forall(_._2 == 0L) shouldBe true
  }

  test("clusters escalates to path-halving on its own: a chain deeper than " +
    "maxIter plain hops converges with DEFAULT arguments") {
    // path graph of 200 nodes (diameter 199 >> maxIter = 20): pure
    // propagation would exhaust maxIter with unconverged labels; the
    // adaptive switch must kick in at adaptAfter hops and finish the rest
    // in O(log diameter). Offset doubles per escalated hop (o <- 2(o+1)),
    // so ~5 escalated hops reach 199 — well inside the default budget.
    // (maxDriverEdges = 0 pins the distributed loop the escalation
    // lives in; the size gate would otherwise route this chain onto the
    // driver union-find.)
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.clusters(chain, maxDriverEdges = 0L)
      .as[(Long, Long)].collect()
    got.length shouldBe 200
    got.forall(_._2 == 0L) shouldBe true
  }

  test("clusters driver fast path matches the distributed loop label for " +
    "label on chains, stars, merging components and isolated pairs") {
    // deterministic messy graph: two chains later merged by a bridge, a
    // star, an isolated pair, self-loop, duplicate + reversed edges
    val edges = (0L until 30L).map(i => (i, i + 1)) ++
      (100L until 130L).map(i => (i, i + 1)) ++
      Seq((15L, 115L), (200L, 201L), (200L, 202L), (300L, 301L),
        (301L, 300L), (300L, 301L), (400L, 400L))
    val pairs = edges.toDF("id_a", "id_b")
    val viaDriver = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    val viaLoop = Dedup.clusters(pairs, maxDriverEdges = 0L, maxIter = 100)
      .as[(Long, Long)].collect().toMap
    viaDriver shouldBe viaLoop
    viaDriver(115L) shouldBe 0L // bridge merged both chains under min id 0
    // the driver path reads the raw edges: one-directional only (a chain
    // given high-to-low), every edge repeated, and null endpoints
    val raw = ((0L until 20L).map(i => (Option(i + 1), Option(i))) ++
      Seq((Option(50L), Option(51L)), (Option(51L), Option(52L))))
      .flatMap(e => Seq(e, e)) ++
      Seq((None, Option(60L)), (Option(61L), None), (Option(60L), Option(62L)))
    def labels(maxDriverEdges: Long) = Dedup.clusters(
        raw.toDF("id_a", "id_b"), maxDriverEdges = maxDriverEdges, maxIter = 100)
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    val rawDriver = labels(1000000L)
    rawDriver shouldBe labels(0L)
    rawDriver should contain((Option(20L), Option(0L)))
    rawDriver should contain((None, None))
  }

  test("sharedSpans finds maximal verbatim runs: exact span length, " +
    "separate spans counted separately, sub-threshold runs and unrelated " +
    "docs excluded, repeated phrases within a doc handled") {
    val quote = (1 to 15).map(i => s"q$i").mkString(" ")   // 15-token quote
    val other = (1 to 12).map(i => s"z$i").mkString(" ")   // 12-token quote
    val short = (1 to 8).map(i => s"s$i").mkString(" ")    // below minSpan
    val docs = Seq(
      (1L, s"alpha beta gamma $quote delta epsilon zeta eta theta"),
      (2L, s"one two three four five $quote six seven $other eight"),
      (3L, s"unrelated words nothing shared here at all in this text ok"),
      (4L, s"intro $other outro filler words to pad this document body"),
      (5L, s"pre $short mid $short post tokens fill out this line")
    ).toDF("doc_id", "text")
    val spans = Dedup.sharedSpans(docs, "text", "doc_id",
        shingleSize = 6, minSpanTokens = 12)
      .orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // (1,2): the 15-token quote, exactly once; (2,4): the 12-token quote;
    // doc 3 pairs with nothing; doc 5's repeated 8-token phrase is below
    // the 12-token floor even though it repeats
    spans shouldBe Array((1L, 2L, 15L, 1L), (2L, 4L, 12L, 1L))

    // two DISTINCT qualifying spans in one pair are counted separately and
    // the longest is reported
    val two = Seq(
      (10L, s"a b c d e f $quote g h i j k l $other m n"),
      (11L, s"$quote filler tokens between quotes pad pad pad $other end")
    ).toDF("doc_id", "text")
    val t = Dedup.sharedSpans(two, "text", "doc_id",
        shingleSize = 6, minSpanTokens = 12).collect()
    t.length shouldBe 1
    (t.head.getLong(2), t.head.getLong(3)) shouldBe ((15L, 2L))
  }

  test("PROPERTY: hamming64Pairs is EXACT for maxHamming < chunks — " +
    "emitted pairs equal the brute-force hamming-radius pair set on " +
    "random sketches with planted near-pairs") {
    val rnd = new scala.util.Random(20260813L)
    // 120 random base sketches + 30 planted near-copies (flip <= maxHamming
    // random bits of a base) — ids 1000+ mark the planted copies
    val base = (0 until 120).map(i => (i.toLong, rnd.nextLong()))
    val planted = (0 until 30).map { i =>
      val (srcId, src) = base(rnd.nextInt(base.size))
      val flips = rnd.nextInt(4) // 0..3 bit flips (maxHamming = 3 below)
      val mutated = (0 until flips).foldLeft(src)((h, _) => h ^ (1L << rnd.nextInt(64)))
      (1000L + i, mutated, srcId)
    }
    val rows = (base ++ planted.map(p => (p._1, p._2))).toDF("id", "sketch")
    val got = Dedup.hamming64Pairs(rows, col("sketch"), "id",
        chunks = 4, maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // brute force over all pairs
    val all = (base ++ planted.map(p => (p._1, p._2)))
    val want = (for {
      (ia, ha) <- all; (ib, hb) <- all
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ia, ib)).toSet
    got shouldBe want
    // the planted copies guarantee the property is exercised non-vacuously
    want.size should be >= 25
  }

  test("embedding cosine dedup reports only pairs above threshold") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.1f, 0.0f, 0.0f)),  // near 0
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingCosine(vecs, "embedding", "vec_id",
      threshold = 0.9, nPlanes = 4, dim = 4, tables = 8)
    val got = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    got shouldBe Set(0L -> 1L)
  }

  test("embedding cosine recall of a same-direction (x2-scaled) copy is " +
    "STRUCTURAL: cosine is exactly 1 and hyperplane signs are identical, " +
    "so a single table recalls every planted pair — the embcos_pairs " +
    "query contract at unit scale") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val planted = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val nPlanted = planted.count()
    // ONE selective table — structural recall needs no OR-amplification
    val pairs = Dedup.embeddingCosine(emb.unionByName(planted),
        "embedding", "vec_id", threshold = 0.9, nPlanes = 12, tables = 1)
      .filter(col("id_b") - col("id_a") === 1000000L)
    pairs.count() shouldBe nPlanted
    // and fp scaling by a power of two leaves the rounded cosine at 1
    pairs.agg(min("cosine"), max("cosine"))
      .as[(Double, Double)].head() shouldBe ((1.0, 1.0))
  }

  test("semantic dedup pairs: planted x2-scaled copies co-cell with their " +
    "originals under ANY centroid placement (identical normalized " +
    "direction) and verify at cosine exactly 1 — the semdedup_pairs " +
    "contract at unit scale") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding")
    val planted = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val nPlanted = planted.count()
    val pairs = Dedup.semanticDedupPairs(emb.unionByName(planted),
      "embedding", "vec_id", threshold = 0.9, maxCell = Int.MaxValue)
    val twins = pairs.filter(col("id_b") - col("id_a") === 1000000L)
    twins.count() shouldBe nPlanted
    twins.agg(min("cosine"), max("cosine"))
      .as[(Double, Double)].head() shouldBe ((1.0, 1.0))
  }

  test("semantic dedup pairs under ONE cell equal the exact all-pairs set " +
    "(candidate generation never mis-scores; the only loss is cell " +
    "separation)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding").filter(col("vec_id") < 200)
    val got = Dedup.semanticDedupPairs(emb, "embedding", "vec_id",
        threshold = 0.4, nCells = 1, maxCell = Int.MaxValue)
      .select("id_a", "id_b", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    val want = Dedup.embeddingCosineExact(emb, "embedding", "vec_id",
        threshold = 0.4)
      .select("id_a", "id_b", "cosine")
      .as[(Long, Long, Double)].collect().toSet
    got shouldBe want
    want should not be empty
  }

  test("semanticDedup keeps one representative per semantic cluster — the " +
    "best row under keepBy — and rows never paired, including zero " +
    "vectors, survive") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0.2),
      (1L, Array(2.0f, 0.0f, 0.0f, 0.0f), 0.9), // same direction as 0
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f), 0.5),
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f), 0.1)  // zero vector: no direction
    ).toDF("vec_id", "embedding", "quality")
    Dedup.semanticDedup(vecs, "embedding", "vec_id",
        threshold = 0.95, nCells = 1, maxCell = Int.MaxValue)
      .select("vec_id").as[Long].collect().toSet shouldBe Set(0L, 2L, 3L)
    Dedup.semanticDedup(vecs, "embedding", "vec_id",
        threshold = 0.95, nCells = 1, maxCell = Int.MaxValue,
        keepBy = Some(negate(col("quality"))))
      .select("vec_id").as[Long].collect().toSet shouldBe Set(1L, 2L, 3L)
  }
}
