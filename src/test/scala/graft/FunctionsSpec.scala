package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.functions.{HashFunctions => H, TextFunctions => T, VectorFunctions => V}

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("tokenCount: blank counts 0, whitespace runs collapse") {
    val df = Seq("", "   ", "one", "a  b\t c").toDF("t")
      .select(T.tokenCount(col("t")).as("n"))
    df.as[Int].collect() shouldBe Array(0, 0, 1, 3)
  }

  test("langId picks the dominant marker language, 'und' when none") {
    val df = Seq(
      "the cat and the dog is of to",
      "el que la de es",
      "xyz qqq zzz").toDF("t").select(T.langId(col("t")).as("l"))
    df.as[String].collect() shouldBe Array("en", "es", "und")
  }

  test("native MarkerCountsExpr matches the HOF filter spec per language") {
    val texts = Seq(
      "", "   ", "the the THE la der", "el que la de es 的",
      "le la les et est der die und ist das",
      "的 是 了 在 我 xyz", "no markers whatsoever here")
    val df = texts.toDF("t")
    for (lang <- T.langOrder) {
      val native = df.select(T.langScore(col("t"), lang)).as[Int].collect()
      val hof = df.select(T.langScoreHof(col("t"), lang)).as[Int].collect()
      withClue(s"lang=$lang") { native.toSeq shouldBe hof.toSeq }
    }
  }

  test("langScores counts shared markers in every language containing them") {
    // "la" is a marker for both es and fr — one pass must credit both
    val sc = Seq("la la").toDF("t")
      .select(T.langScores(col("t"))).as[Seq[Int]].head()
    sc shouldBe Seq(0, 2, 2, 0, 0) // en, es, fr, de, zh
  }

  test("punctRatio and stopwordRatio bounds") {
    val r = Seq("a, b. c!").toDF("t")
      .select(T.punctRatio(col("t")).as("p"), T.stopwordRatio(col("t")).as("s"))
      .head()
    r.getDouble(0) shouldBe (3.0 / 8.0) +- 1e-9
    r.getDouble(1) shouldBe 0.0
  }

  test("rolling polynomial fingerprint matches the Rabin-Karp reference " +
    "and is order-sensitive") {
    def ref(s: String): Long =
      s.getBytes("UTF-8").foldLeft(0L)((h, b) => h * 31L + (b & 0xff))
    val fps = Seq("abc", "cba", "héllo")
      .toDF("t").select(T.rollingFingerprint(col("t"))).as[Long].collect()
    fps(0) shouldBe ref("abc")
    fps(1) shouldBe ref("cba")
    fps(0) should not be fps(1) // order matters, unlike a shingle-set hash
    fps(2) shouldBe ref("héllo")
  }

  test("fingerprint is invariant to case and whitespace runs") {
    val fps = Seq("A  B c", "a b C", "totally different")
      .toDF("t").select(T.fingerprint(col("t"))).as[String].collect()
    fps(0) shouldBe fps(1)
    fps(2) should not be fps(0)
  }

  test("wordShingles: short docs collapse to one whole-string shingle") {
    val sh = Seq("a b", "a b c d").toDF("t")
      .select(H.wordShingles(T.tokens(col("t")), 3).as("s"))
      .as[Seq[String]].collect()
    sh(0) shouldBe Seq("a b")
    sh(1).toSet shouldBe Set("a b c", "b c d")
  }

  test("native WordShingleExpr matches the declarative HOF spec on edge cases") {
    val df = Seq("", "a", "a b", "a b c", "a b c d e", "x x x x", "a  b   c d")
      .toDF("t")
    val native = df.select(H.wordShingles(T.tokens(col("t")), 3).as("s"))
    val hof = df.select(H.wordShinglesHof(T.tokens(col("t")), 3).as("s"))
    native.collect().map(_.getSeq[String](0)) shouldBe
      hof.collect().map(_.getSeq[String](0))
  }

  test("charShingles: n-char windows, short strings collapse to themselves") {
    val sh = Seq("abcd", "ab").toDF("t")
      .select(H.charShingles(col("t"), 3).as("s")).as[Seq[String]].collect()
    sh(0) shouldBe Seq("abc", "bcd")
    sh(1) shouldBe Seq("ab")
  }

  test("occurrences counts non-overlapping needle hits by length differencing") {
    val n = Seq("abab abx ab", "xyz", "").toDF("t")
      .select(T.occurrences(col("t"), "ab").as("n")).as[Int].collect()
    n shouldBe Array(4, 0, 0)
  }

  test("native minHash == HOF spec (pinned value-equivalence), and the " +
    "explode+min-aggregate arithmetic it replaced") {
    val docs = Seq("x y z w one two three", "p q r s", "lone")
    val shingles = H.wordShingles(T.tokens(col("t")), 2)
    val native = docs.toDF("t").select(H.minHash(shingles, 32).as("sig"))
      .as[Seq[Long]].collect()
    val hof = docs.toDF("t").select(H.minHashHof(shingles, 32).as("sig"))
      .as[Seq[Long]].collect()
    native shouldBe hof
    // empty shingle set: native yields null (no signature, doc unbandable)
    val empty = Seq("").toDF("t")
      .select(H.minHash(H.wordShingles(T.tokens(col("t")), 2), 8).as("sig"))
      .collect()
    // tokens("") is an empty array -> whole-string shingle of "" may apply;
    // assert only that evaluation is total (no NPE) and deterministic
    empty.length shouldBe 1
  }

  test("native NearestCellExpr == the declarative sort formulation it " +
    "replaced (distances, tie-to-lowest-cell, float widening), and a " +
    "dimension mismatch fails loudly") {
    val centroids = Array(
      Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0),
      Array(0.0, 0.0, 1.0), Array(0.5, 0.5, 0.0))
    // includes an exact tie: (1,1,0)/sqrt2-ish points equidistant between
    // cells 0 and 1 -> lowest cell id must win in both formulations
    val vecs = Seq(
      Array(0.9f, 0.1f, 0.0f), Array(0.1f, 0.9f, 0.05f),
      Array(0.0f, 0.1f, 0.95f), Array(0.45f, 0.55f, 0.1f),
      Array(1.0f, 1.0f, 0.0f), Array(-1.0f, -1.0f, -1.0f),
      Array(0.0f, 0.0f, 0.0f))
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
    val native = df.select(col("id"),
        graft.functions.VectorExpressions.nearestCell(col("v"), centroids)
          .as("c"))
      .orderBy("id").as[(Long, Int)].collect()
    // the declarative formulation nearestCell used before the native
    // argmin: per-centroid (||c||^2 - 2 v.c, cell) structs, sorted
    val structs = array(centroids.zipWithIndex.map { case (c, i) =>
      val cNorm2 = c.map(x => x * x).sum
      struct((lit(cNorm2) - lit(2.0) *
        graft.functions.VectorFunctions.dot(col("v"), lit(c))).as("d"),
        lit(i).as("cell"))
    }.toIndexedSeq: _*)
    val declarative = df.select(col("id"),
        element_at(array_sort(structs), 1)("cell").as("c"))
      .orderBy("id").as[(Long, Int)].collect()
    native shouldBe declarative
    val ex = intercept[Exception] {
      Seq(Tuple1(Array(1.0f, 2.0f))).toDF("v")
        .select(graft.functions.VectorExpressions.nearestCell(col("v"),
          centroids)).collect()
    }
    ex.getMessage should include("dim")
  }

  test("native CharShingleExpr matches the declarative HOF spec, including " +
    "short strings, multi-byte code points, and repeats") {
    val cases = Seq("abcdef", "ab", "", "ababab", "héllo wörld", "日本語のテキスト")
    val native = cases.toDF("t")
      .select(H.charShingles(col("t"), 3).as("sh")).as[Seq[String]].collect()
    val hof = cases.toDF("t")
      .select(H.charShinglesHof(col("t"), 3).as("sh")).as[Seq[String]].collect()
    native.map(_.toSet) shouldBe hof.map(_.toSet)
    native.head.toSet shouldBe Set("abc", "bcd", "cde", "def")
  }

  test("native CharGramsExpr matches the substring-transform HOF spec: " +
    "multiplicity kept, order kept, short strings empty, multi-byte safe") {
    val cases = Seq("abcdef", "ab", "", "ababab", "héllo wörld", "日本語のテキスト")
    val native = cases.toDF("t")
      .select(graft.functions.CharGramsExpr(col("t"), 3).as("g"))
      .as[Seq[String]].collect()
    val strLen = org.apache.spark.sql.functions.length(col("t"))
    val hof = cases.toDF("t")
      .select(when(strLen >= 3,
          transform(sequence(lit(1), strLen - 2),
            i => col("t").substr(i, lit(3))))
        .otherwise(array()).as("g"))
      .as[Seq[String]].collect()
    native shouldBe hof // exact sequence equality: order AND duplicates
    native(0) shouldBe Seq("abc", "bcd", "cde", "def")
    native(1) shouldBe Seq.empty // below n -> empty, NOT the whole string
    native(3) shouldBe Seq("aba", "bab", "aba", "bab") // repeats kept
  }

  test("null array elements: native sketches and HOF specs agree (both " +
    "skip, concat_ws-style)") {
    val toks = Seq((Seq("x", null, "y"), Seq("x", "y"))).toDF("withNull", "without")
    val r = toks.select(
      H.minHash(col("withNull"), 8).as("mnN"),
      H.minHashHof(col("withNull"), 8).as("mhN"),
      H.minHash(col("without"), 8).as("mn"),
      graft.functions.SimHashExpr(col("withNull")).as("snN"),
      H.simHash(col("withNull")).as("shN"),
      H.simHash(col("without")).as("sh")).head()
    r.getSeq[Long](0) shouldBe r.getSeq[Long](1) // native == HOF with nulls
    r.getSeq[Long](0) shouldBe r.getSeq[Long](2) // nulls are skipped
    r.getLong(3) shouldBe r.getLong(4)
    r.getLong(3) shouldBe r.getLong(5)
  }

  test("stableSplit: deterministic, label-complete, and the fraction lands " +
    "near the target on a uniform key space") {
    val ids = (0L until 2000L).toDF("id")
    val split = ids.select(T.stableSplit(col("id"), 0.9).as("s"))
    val counts = split.groupBy("s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    counts.keySet shouldBe Set("train", "holdout")
    counts("train").toDouble / 2000.0 shouldBe 0.9 +- 0.03
    // re-evaluation yields the identical assignment (content-stable)
    split.collect() shouldBe split.collect()
    // boundary fractions degenerate to a single label
    ids.select(T.stableSplit(col("id"), 1.0).as("s"))
      .distinct().collect().map(_.getString(0)) shouldBe Array("train")
  }

  test("SimHashAgg group sketch == SimHashExpr over the concatenated " +
    "group tokens, and is partitioning-invariant (merge associativity)") {
    val withToks = Seq(
      (1L, Seq("the", "quick", "brown")),
      (1L, Seq("jumps", "the", "lazy")),
      (1L, Seq("pack", "box", "jugs", "five")),
      (2L, Seq("lorem", "ipsum"))).toDF("g", "toks")
    val agg = withToks.groupBy("g")
      .agg(graft.functions.SimHashAgg(col("toks")).as("sk"))
      .orderBy("g").as[(Long, Long)].collect()
    // spec: one SimHashExpr over each group's concatenated tokens
    val expected = withToks.groupBy("g")
      .agg(flatten(collect_list(col("toks"))).as("all"))
      .select(col("g"), graft.functions.SimHashExpr(col("all")).as("sk"))
      .orderBy("g").as[(Long, Long)].collect()
    agg shouldBe expected
    // partial aggregation must not change the result
    val repart = withToks.repartition(7).groupBy("g")
      .agg(graft.functions.SimHashAgg(col("toks")).as("sk"))
      .orderBy("g").as[(Long, Long)].collect()
    repart shouldBe agg
  }

  test("minHash is deterministic and equal signatures for equal shingle sets") {
    val df = Seq("x y z w", "x y z w", "p q r s").toDF("t")
      .select(H.minHash(H.wordShingles(T.tokens(col("t")), 2), 16).as("sig"))
    val sigs = df.as[Seq[Long]].collect()
    sigs(0) shouldBe sigs(1)
    sigs(0) should not be sigs(2)
    sigs(0).length shouldBe 16
  }

  test("jaccard of identical sets is 1, disjoint is 0") {
    val df = Seq((Seq("a", "b"), Seq("a", "b"), Seq("c", "d")))
      .toDF("x", "y", "z")
      .select(H.jaccard(col("x"), col("y")).as("same"),
        H.jaccard(col("x"), col("z")).as("disj"))
    val r = df.head()
    r.getDouble(0) shouldBe 1.0
    r.getDouble(1) shouldBe 0.0
  }

  test("simHash: equal token streams get hamming 0; hamming is symmetric bit count") {
    val df = Seq(("a b c", "a b c"), ("a b c", "x y z")).toDF("s", "t")
      .select(H.hamming(H.simHash(T.tokens(col("s"))),
        H.simHash(T.tokens(col("t")))).as("h"))
    val h = df.as[Long].collect()
    h(0) shouldBe 0L
    h(1) should be > 0L
  }

  test("vector math: cosine/l2/dot on known vectors; zero vector -> null cosine") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 1.0f), Array(1.0f, 1.0f)),
      (Array(0.0f, 0.0f), Array(1.0f, 0.0f))
    ).toDF("a", "b").select(
      V.cosine(col("a"), col("b")).as("cos"),
      V.l2(col("a"), col("b")).as("l2"))
    val rows = df.collect()
    rows(0).getDouble(0) shouldBe 0.0 +- 1e-9
    rows(1).getDouble(0) shouldBe 1.0 +- 1e-9
    assert(rows(2).isNullAt(0))
    rows(0).getDouble(1) shouldBe math.sqrt(2) +- 1e-9
  }

  test("approx_count_distinct lands within 5% of exact on the fixtures") {
    val li = sources.Tables.load(spark, sf, "lineitem")
    val r = li.agg(
      approx_count_distinct(col("l_partkey")).as("a"),
      countDistinct(col("l_partkey")).as("e")).head()
    val (a, e) = (r.getLong(0).toDouble, r.getLong(1).toDouble)
    math.abs(a - e) / e should be < 0.05
  }

  test("native SimHashExpr matches the declarative HOF simHash spec") {
    val df = Seq("the quick brown fox", "a", "", "x y z x y z")
      .toDF("t")
    val native = df.select(
      graft.functions.SimHashExpr(T.tokens(col("t"))).as("s")).as[Long].collect()
    val hof = df.select(H.simHash(T.tokens(col("t"))).as("s")).as[Long].collect()
    native shouldBe hof
  }

  test("native dot product matches the declarative HOF spec bit-for-bit") {
    val df = Seq(
      (Array(1.5f, -2.25f, 3.125f), Array(0.5f, 4.0f, -1.75f)),
      (Array(0.0f, 0.0f, 0.0f), Array(1.0f, 2.0f, 3.0f))
    ).toDF("a", "b")
    val native = df.select(V.dot(col("a"), col("b"))).as[Double].collect()
    val hof = df.select(V.dotHof(col("a"), col("b"))).as[Double].collect()
    native shouldBe hof
  }

  test("repetition fractions: duplicate tokens and bigrams score high, " +
    "unique text scores zero, degenerate lengths are safe") {
    val df = Seq(
      (1L, "spam spam spam spam"),          // 1 distinct of 4; bigrams all same
      (2L, "all words here are different"), // no repeats
      (3L, "one"),                          // 1 token: both 0
      (4L, ""),                             // empty: both 0
      (5L, "go go")                         // 2 tokens: tok 0.5, one bigram -> 0
    ).toDF("doc_id", "t")
    val got = df.select(col("doc_id"), T.tokenRepetition(col("t")).as("tr"),
        T.bigramRepetition(col("t")).as("br"))
      .orderBy("doc_id").as[(Long, Double, Double)].collect()
    got shouldBe Array(
      (1L, 0.75, 0.666667), // 3 bigram slots, 1 distinct -> round(2/3, 6)
      (2L, 0.0, 0.0), (3L, 0.0, 0.0), (4L, 0.0, 0.0), (5L, 0.5, 0.0))
  }

  test("PII detection counts each pattern independently and redaction " +
    "replaces them in order with digit-free placeholders") {
    val text = "write to bob.smith+x@corp.example.org from 10.20.30.40, " +
      "ssn 123-45-6789, call (415) 555-1234 or 555.123.4567"
    val df = Seq(Tuple1(text)).toDF("t").select(
      T.piiCount(col("t"), "email").as("e"), T.piiCount(col("t"), "ipv4").as("i"),
      T.piiCount(col("t"), "ssn").as("s"), T.piiCount(col("t"), "phone").as("p"),
      T.redactPii(col("t")).as("r"))
    val (e, i, s, p, r) = df.as[(Long, Long, Long, Long, String)].head()
    (e, i, s, p) shouldBe ((1L, 1L, 1L, 2L))
    r shouldBe "write to [EMAIL] from [IP], ssn [SSN], call [PHONE] or [PHONE]"
    // clean text passes through untouched with zero counts
    val clean = "no contact data in this document at all"
    val kinds = Seq("email", "ipv4", "ssn", "phone")
    val zero = Seq(Tuple1(clean)).toDF("t")
      .select(kinds.map(k => T.piiCount(col("t"), k)) :+ T.redactPii(col("t")): _*)
      .head()
    kinds.indices.foreach(zero.getLong(_) shouldBe 0L)
    zero.getString(4) shouldBe clean
  }

  test("URL extraction finds http(s) URLs and urlDomain strips scheme, " +
    "path, port and query; non-URLs yield null") {
    val df = Seq(
      (1L, "docs at https://a.example.com/x/y?q=1 and http://b.example.net:8080/z"),
      (2L, "bare domain example.com is not extracted"),
      (3L, "")
    ).toDF("doc_id", "t")
    val urls = df.select(col("doc_id"), T.extractUrls(col("t")).as("us"))
      .orderBy("doc_id").as[(Long, Seq[String])].collect()
    urls.map(_._2.size) shouldBe Array(2, 0, 0)
    val domains = df
      .select(explode(T.extractUrls(col("t"))).as("u"))
      .select(T.urlDomain(col("u")).as("d")).as[String].collect().sorted
    domains shouldBe Array("a.example.com", "b.example.net")
    Seq(Tuple1("not a url")).toDF("u")
      .select(T.urlDomain(col("u"))).head().isNullAt(0) shouldBe true
  }

  test("signBucket packs plane signs deterministically") {
    val planes = V.hyperplanes(4, 2, seed = 7L)
    val df = Seq(Tuple1(Array(1.0f, 0.5f))).toDF("v")
      .select(V.signBucket(col("v"), planes).as("b"))
    val b1 = df.as[Long].head()
    val b2 = df.as[Long].head()
    b1 shouldBe b2
    b1 should (be >= 0L and be < 16L)
  }

  test("KllSketchAgg: quantile and rank estimates sit inside the rank band " +
    "on a known distribution, across partitionings") {
    import graft.functions.{KllQuantileExpr, KllRankExpr, KllSketchAgg}
    // 0..9999 uniformly; true median 4999.5, p90 8999. 5% rank margin is
    // ~3x the k=200 99%-confidence error — comfortably non-flaky.
    Seq(1, 7, 32).foreach { parts =>
      val sk = spark.range(10000).repartition(parts)
        .select(col("id").cast("double").as("v"))
        .agg(KllSketchAgg(col("v"), 200).as("sk"))
      val row = sk.select(
        KllQuantileExpr(col("sk"), lit(0.5)).as("m"),
        KllQuantileExpr(col("sk"), lit(0.9)).as("p90"),
        KllRankExpr(col("sk"), lit(5000.0)).as("r")).head()
      withClue(s"parts=$parts: ") {
        row.getDouble(0) shouldBe 5000.0 +- 500.0
        row.getDouble(1) shouldBe 9000.0 +- 500.0
        row.getDouble(2) shouldBe 0.5 +- 0.05
      }
    }
  }

  test("KllMergeAgg of per-group sketches equals (within band) a sketch of " +
    "the union; nulls and NaNs are skipped; empty input yields NULL " +
    "quantiles") {
    import graft.functions.{KllMergeAgg, KllQuantileExpr, KllSketchAgg}
    // two disjoint halves sketched separately, merged without reseeing rows
    val halves = spark.range(10000)
      .select((col("id") % 2).as("g"), col("id").cast("double").as("v"))
      .groupBy("g").agg(KllSketchAgg(col("v"), 200).as("sk"))
    val merged = halves.agg(KllMergeAgg(col("sk"), 200).as("msk"))
      .select(KllQuantileExpr(col("msk"), lit(0.5)).as("m")).head().getDouble(0)
    merged shouldBe 5000.0 +- 500.0
    // nulls + NaN skipped: only {1, 2} survive
    val vals = Seq(Some(1.0), None, Some(Double.NaN), Some(2.0)).toDF("v")
      .agg(KllSketchAgg(col("v"), 200).as("sk"))
      .select(KllQuantileExpr(col("sk"), lit(0.0)).as("lo"),
        KllQuantileExpr(col("sk"), lit(1.0)).as("hi")).head()
    (vals.getDouble(0), vals.getDouble(1)) shouldBe (1.0, 2.0)
    // empty sketch -> NULL quantile
    val empty = spark.range(0).select(col("id").cast("double").as("v"))
      .agg(KllSketchAgg(col("v"), 200).as("sk"))
      .select(KllQuantileExpr(col("sk"), lit(0.5)).as("m")).head()
    empty.isNullAt(0) shouldBe true
  }

  test("MisraGriesAgg guarantee holds across adversarial partitionings: " +
    "every token with count > n/(k+1) survives the merged summary, " +
    "counters never overcount, and undercount is bounded by n/(k+1)") {
    val rnd = new scala.util.Random(7)
    val heavy = Seq("h1" -> 400, "h2" -> 250, "h3" -> 120)
    val tail = Seq.fill(3000)(s"t${rnd.nextInt(1500)}")
    val stream = rnd.shuffle(
      heavy.flatMap { case (t, c) => Seq.fill(c)(t) } ++ tail)
    val n = stream.size
    val k = 50
    val floor = n.toDouble / (k + 1)
    val exact = stream.groupBy(identity).map { case (t, xs) =>
      t -> xs.size.toLong
    }
    for (parts <- Seq(1, 7, 32)) {
      val df = stream.grouped(5).map(_.toArray).toSeq.toDF("toks")
        .repartition(parts)
      val summary = df
        .agg(graft.functions.MisraGriesAgg(col("toks"), k).as("mg"))
        .select(explode(col("mg")).as("c"))
        .select(col("c.item"), col("c.count"))
        .as[(String, Long)].collect().toMap
      summary.size should be <= k
      exact.foreach { case (t, c) =>
        if (c > floor) withClue(s"parts=$parts heavy token $t ($c > $floor): ") {
          summary.keySet should contain(t)
        }
      }
      summary.foreach { case (t, est) =>
        est should be <= exact(t)
        est.toDouble should be >= (exact(t) - floor - 1e-9)
      }
    }
  }

  test("MisraGriesAgg skips null arrays and null elements, sorts output by " +
    "(count desc, item), and rejects k < 1 at construction") {
    val df = spark.range(1).select(
        array(lit("b"), lit("a"), lit(null).cast("string"), lit("a")).as("toks"))
      .unionByName(spark.range(1).select(
        lit(null).cast("array<string>").as("toks")))
    val out = df.agg(graft.functions.MisraGriesAgg(col("toks"), 10).as("mg"))
      .select(explode(col("mg")).as("c"))
      .select(col("c.item"), col("c.count"))
      .as[(String, Long)].collect().toSeq
    out shouldBe Seq(("a", 2L), ("b", 1L))
    intercept[IllegalArgumentException] {
      graft.functions.MisraGriesAgg(col("toks"), 0)
    }
  }

  // Every KernelCodegen expression over a non-nullable, non-foldable
  // child (an aggregate's output: a literal child would be constant-folded
  // and never reach generated code). For such a child Spark declares no
  // isNull variable, so a kernel that assigns one does not compile.
  private lazy val kernelInputs = Seq(
      ("en", Seq("the", "cat", "and"), Seq(1.0, -2.0)),
      ("en", Seq("dog", "the"), Seq(0.5, 3.0)),
      ("es", Seq("el", "que"), Seq(-1.0, 0.0)),
      ("es", Seq("la", "casa"), Seq(2.0, 2.0)),
      ("und", Seq.empty[String], Seq(0.0, -1.0)),
      ("und", Seq.empty[String], Seq(-3.0, 1.0)))
    .toDF("g", "toks", "vec").coalesce(1).groupBy("g")
    .agg(flatten(collect_list(col("toks"))).as("toks"),
      flatten(collect_list(col("vec"))).as("vec"))

  private val tokens = ("flatten(collect_list(...))", col("toks"))
  private val text =
    ("concat_ws(' ', flatten(collect_list(...)))", concat_ws(" ", col("toks")))
  private val bytes = ("a binary cast of concat_ws(' ', " +
    "flatten(collect_list(...)))", concat_ws(" ", col("toks")).cast("binary"))
  private val vector = ("flatten(collect_list(...)) of vectors", col("vec"))

  Seq[(String, (String, Column), Column => Column)](
    ("SignBucketsExpr", vector, c => graft.functions.VectorExpressions
      .signBuckets(c, Seq(Seq(Array(1.0, 0.0, 0.0, 0.0),
        Array(0.0, 1.0, 0.0, 0.0)), Seq(Array(0.0, 0.0, 1.0, -1.0))))),
    ("MinHashSigExpr", tokens, c => graft.functions.MinHashSigExpr(c, 8)),
    ("MeanBytesExpr", bytes, c => graft.functions.MeanBytesExpr(c)),
    ("CharLmScoreExpr", text, c => graft.functions.CharLmScoreExpr(c,
      Seq("th" -> 3L, "he" -> 2L, "el" -> 1L), 2)),
    ("BpeEncodeExpr", text, c => graft.functions.BpeEncodeExpr(c,
      Seq("t" -> "h", "th" -> "e"))),
    ("SimHashExpr", tokens, c => graft.functions.SimHashExpr(c)),
    ("PolyHashExpr", text, c => graft.functions.PolyHashExpr(c)),
    ("MarkerCountsExpr", tokens, c => graft.functions.MarkerCountsExpr(c,
      Seq(Seq("the", "and"), Seq("el", "que", "la")))),
    ("WordShingleExpr", tokens, c => graft.functions.WordShingleExpr(c, 2)),
    ("CharShingleExpr", text, c => graft.functions.CharShingleExpr(c, 3)),
    ("CharGramsExpr", text, c => graft.functions.CharGramsExpr(c, 3))
  ).foreach { case (name, (childDesc, child), kernel) =>
    test(s"KernelCodegen over a non-nullable child compiles: $name over " +
      s"$childDesc gives the same rows under CODEGEN_ONLY as " +
      "under NO_CODEGEN") {
      val df = kernelInputs.select(col("g"), child.as("child"))
      df.schema("child").nullable shouldBe false
      val key = "spark.sql.codegen.factoryMode"
      def rows(mode: String): Seq[org.apache.spark.sql.Row] = {
        val prev = spark.conf.getOption(key)
        spark.conf.set(key, mode)
        try df.select(col("g"), kernel(col("child")))
          .orderBy("g").collect().toSeq
        finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      }
      val generated = rows("CODEGEN_ONLY")
      generated.map(_.getString(0)) shouldBe Seq("en", "es", "und")
      generated shouldBe rows("NO_CODEGEN")
    }
  }
}
