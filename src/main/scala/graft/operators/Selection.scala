package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-selection operators for training-mix curation: which documents
  * make the cut, expressed so the OUTPUT is budget-bounded even when the
  * input corpus is not. Complements [[Dedup]] (what to drop as duplicate)
  * and the stratified-top-k query shape (best k per stratum).
  */
object Selection {

  /** Largest rate map [[sampleStrata]] compiles into its CASE chain.
    * Sized for real mix recipes — per-language maps top out around the
    * ~200 living written languages — while still rejecting data-sized
    * maps (per-domain, per-url-host) that belong in a broadcast join. */
  val MaxRecipeStrata = 512

  /** Token-budget selection per stratum: walk each stratum in `rankBy`
    * order (best first) and keep documents while the RUNNING token total
    * stays within `budget` — "fill a 1 B-token training mix with the best
    * docs per language" as one windowed pass. Emits `cum_tokens`, the
    * running total INCLUDING the current row, so a kept row's tokens all
    * fit the budget; the first doc that overflows is cut (no partial
    * documents). Output size is O(budget), not O(corpus) — the property a
    * fixed training-mix recipe needs at any corpus scale.
    *
    * `rankBy` must give a TOTAL order within a stratum (tie-break on a
    * unique id) or the running sum — and therefore the cut — is
    * nondeterministic. Zero-token documents are excluded up front: they
    * add nothing to a token budget, and keeping them would make the result
    * depend on whether `maxDocs` is set (a zero-token doc ranked past the
    * pre-cut would be dropped there but kept by the running sum alone).
    * `maxDocs > 0` additionally pre-cuts each stratum to
    * its best `maxDocs` rows with a rank filter BEFORE the running sum:
    * `row_number <= k` plans a WindowGroupLimit, so each task keeps only k
    * rows per stratum ahead of the exchange — the cap that stops a single
    * giant stratum from funneling the whole corpus through one task at
    * 100 TB (every remaining doc has ≥1 token, so a doc past rank `budget`
    * can never fit and `maxDocs = budget` is always sound). */
  def tokenBudgetPerStratum(df: DataFrame, strataCol: String,
                            tokensCol: String, budget: Long,
                            rankBy: Seq[Column],
                            maxDocs: Int = 0): DataFrame = {
    val order = Window.partitionBy(strataCol).orderBy(rankBy: _*)
    val nonEmpty = df.filter(col(tokensCol).cast("long") > 0L)
    val precut =
      if (maxDocs <= 0) nonEmpty
      else nonEmpty.withColumn("__rk", row_number().over(order))
        .filter(col("__rk") <= maxDocs).drop("__rk")
    val cum = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    precut
      .withColumn("cum_tokens", sum(col(tokensCol).cast("long")).over(cum))
      .filter(col("cum_tokens") <= budget)
  }

  /** Per-stratum quantile-bin report: assign each row to one of `bins`
    * equal-count bins under `rankBy` order (bin 1 = best) and aggregate
    * per (stratum, bin) — the curriculum / data-mix planning table
    * ("which quality decile holds how many documents and tokens per
    * language", read before picking [[tokenBudgetPerStratum]] budgets or
    * a curriculum schedule). `ntile` over a total order is exact and
    * engine-independent: both Spark and standard SQL give the first
    * `n mod bins` bins one extra row, so the report is oracle-checkable
    * row for row. `rankBy` must totally order each stratum (tie-break on
    * a unique id) or boundary rows land nondeterministically.
    *
    * The window sorts each whole stratum on one task — the same bound as
    * [[topFractionPerStratum]]: fine to tens of millions of rows per
    * stratum, not at an unbounded 100 TB stratum. At that scale derive
    * approximate bin THRESHOLDS instead (`approx_percentile` of the rank
    * score per stratum, broadcast, scan-side `CASE` assignment — the
    * [[topFractionApproxPerStratum]] recipe generalized to `bins`
    * boundaries); the report loses exact equal counts but needs no
    * per-stratum sort.
    *
    * Rows with a NULL score land wherever `rankBy`'s null ordering places
    * them here, and in a NULL bin in the approx variant — filter them out
    * first if they should not be binned at all. */
  def quantileBinsPerStratum(df: DataFrame, strataCol: String,
                             scoreCol: String, tokensCol: String,
                             rankBy: Seq[Column], bins: Int = 10): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    val order = Window.partitionBy(strataCol).orderBy(rankBy: _*)
    df.withColumn("__bin", ntile(bins).over(order))
      .groupBy(col(strataCol), col("__bin").cast("long").as("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokensCol).cast("long")).as("tokens"),
        min(col(scoreCol)).as("min_score"),
        max(col(scoreCol)).as("max_score"))
  }

  /** Top-fraction selection per stratum: keep each stratum's best
    * `fraction` of rows under `rankBy` order — "the top 20% quality per
    * language", the relative-threshold counterpart of the absolute top-k
    * (`stratified_topk`) and token-budget shapes. EXACT: `percent_rank`
    * over a per-stratum window; pr ≤ f keeps ⌊f·(n−1)⌋+1 rows (the best
    * row has pr 0, so every stratum keeps ≥ 1 — fraction 0 means "best
    * row only"). `rankBy` must totally order each stratum (tie-break on a
    * unique id) or the boundary rows are nondeterministic.
    *
    * The window sorts each whole stratum on one task — fine up to tens of
    * millions of rows per stratum, NOT at an unbounded 100 TB stratum; at
    * that scale use [[topFractionApproxPerStratum]]. */
  def topFractionPerStratum(df: DataFrame, strataCol: String,
                            fraction: Double, rankBy: Seq[Column]): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction must be in [0,1]")
    val w = Window.partitionBy(strataCol).orderBy(rankBy: _*)
    df.withColumn("__pr", percent_rank().over(w))
      .filter(col("__pr") <= fraction)
      .drop("__pr")
  }

  /** Scale path for [[topFractionPerStratum]]: per-stratum score threshold
    * from `approx_percentile` (one aggregation pass, error bounded by
    * `accuracy`), joined back and filtered — no per-stratum sort, no
    * single-task stratum, the plan that survives an unbounded stratum at
    * 100 TB. Keeps rows with `scoreCol` ≥ the (1−fraction) quantile of
    * their stratum; ties at the threshold are all kept, so the kept count
    * is approximate in exchange for the missing sort (the documented
    * trade-off vs the exact variant). The thresholds relation has one row
    * per stratum: it is broadcast only while MEASURED under Dedup's fixed
    * broadcast gate (via [[Dedup.sizeGatedFilterJoin]]) — a
    * high-cardinality strata column (e.g. domain) degrades to a shuffled
    * join instead of an unbounded driver broadcast. */
  def topFractionApproxPerStratum(df: DataFrame, strataCol: String,
                                  scoreCol: String, fraction: Double,
                                  accuracy: Int = 10000): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction must be in [0,1]")
    val thresholds = df.groupBy(strataCol).agg(
      percentile_approx(col(scoreCol), lit(1.0 - fraction), lit(accuracy))
        .as("__thr"))
    Dedup.sizeGatedFilterJoin(df, thresholds, Seq(strataCol), "inner")
      .filter(col(scoreCol) >= col("__thr"))
      .drop("__thr")
  }

  /** Scale path for [[quantileBinsPerStratum]]: per-stratum bin THRESHOLDS
    * from one `approx_percentile` aggregation pass (the interior
    * `(1/bins … (bins−1)/bins)` quantiles of `scoreCol`, error bounded by
    * `accuracy`), joined back under Dedup's fixed broadcast gate and
    * assigned scan-side — no per-stratum sort, no single-task stratum,
    * the plan that survives an unbounded 100 TB stratum. Bin 1 is best
    * (highest scores), mirroring the exact variant's rank order; a score
    * EQUAL to a threshold lands in the worse adjacent bin, so bins
    * never split ties (the counts-vs-tie-handling trade-off vs exact
    * ntile, which splits ties to equalize counts). Two invariants hold
    * REGARDLESS of sketch error: every input row lands in exactly one
    * bin (totals are preserved — rows with a NULL score land in the NULL
    * bin, matching `approx_percentile` ignoring them when the thresholds
    * were computed), and bins' score ranges are strictly ordered —
    * `min_score` of a better bin > `max_score` of any worse bin. Only
    * the equal-count property is approximate. */
  def quantileBinsApproxPerStratum(df: DataFrame, strataCol: String,
                                   scoreCol: String, tokensCol: String,
                                   bins: Int = 10,
                                   accuracy: Int = 10000): DataFrame =
    assignQuantileBinsApproxPerStratum(df, strataCol, scoreCol, bins, accuracy)
      .groupBy(col(strataCol), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(tokensCol).cast("long")).as("tokens"),
        min(col(scoreCol)).as("min_score"),
        max(col(scoreCol)).as("max_score"))

  /** The ROW-level half of [[quantileBinsApproxPerStratum]]: every input
    * row back with its `bin` (1 = best, NULL score → NULL bin), no
    * aggregation — for pipelines that bin-band a downstream per-row
    * decision (e.g. a curriculum keep-rate coin) rather than report bin
    * totals. Same plan shape: one `approx_percentile` pass for the
    * thresholds, size-gated join back, assignment scan-side — no
    * per-stratum sort anywhere. */
  def assignQuantileBinsApproxPerStratum(df: DataFrame, strataCol: String,
                                         scoreCol: String, bins: Int = 10,
                                         accuracy: Int = 10000): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    // NULL scores must land in a NULL bin, not silently in the worst one:
    // `t < score` evaluates to NULL for a NULL score, the filter HOF drops
    // every threshold, and `bins − 0` would quietly claim the row for bin
    // `bins` even though percentile_approx ignored it for the thresholds.
    val binOf = (binExpr: Column) =>
      when(col(scoreCol).isNotNull, binExpr).cast("long")
    val binned = if (bins == 1) df.withColumn("bin", binOf(lit(1L)))
    else {
      val qs = array((1 until bins).map(i => lit(i.toDouble / bins)): _*)
      val thresholds = df.groupBy(strataCol).agg(
        percentile_approx(col(scoreCol), qs, lit(accuracy)).as("__thrs"))
      Dedup.sizeGatedFilterJoin(df, thresholds, Seq(strataCol), "inner")
        // thresholds ascend; c = how many sit strictly below this score;
        // bins − c maps the top segment to bin 1, the bottom to bin `bins`
        .withColumn("bin",
          binOf(lit(bins) - size(filter(col("__thrs"),
            t => t < col(scoreCol)))))
    }
    binned.drop("__thrs")
  }

  /** Exact-COUNT uniform sample per stratum: each stratum's first `n`
    * rows under `md5(key)` order — "exactly 100 docs per language",
    * uniform without replacement (the md5 order is independent of any
    * data column), deterministic and reproducible across engines/runs.
    * The count-based companion of the rate-based [[sampleStrata]]: rates
    * compose under resampling but drift with corpus growth; exact counts
    * pin the output size. `row_number <= n` plans a WindowGroupLimit, so
    * each task keeps n rows per stratum ahead of the exchange — no
    * stratum funnels the corpus through one task.
    *
    * `keyCol` must be UNIQUE per stratum (use the row id): duplicate keys
    * tie on both `md5(key)` and the key tie-break, so which of the tied
    * boundary rows survive `rk ≤ n` would be engine/partition-arbitrary —
    * the same contract [[packSequences]] documents for its `idCol`. */
  def sampleExactPerStratum(df: DataFrame, strataCol: String,
                            keyCol: String, n: Int): DataFrame = {
    require(n > 0, "sample size must be positive")
    val w = Window.partitionBy(strataCol)
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    df.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .drop("__rk")
  }

  /** Weighted mixture sampling: keep each row of stratum `s` with
    * probability `rates(s)` (`defaultRate` for unlisted strata), decided
    * by the row's own key — the first 8 hex digits of `md5(key)` compared
    * against the rate's threshold, the same engine-independent coin as
    * [[graft.functions.TextFunctions.stableSplit]]. This is how a training
    * mix is re-weighted ("keep 90% of en, 25% of fr, 10% of the rest"):
    * deterministic per document (stable across runs, engines, partition
    * layouts — re-running the pipeline keeps the SAME documents), unbiased
    * w.r.t. key order, and a pure scan-side filter: no shuffle, no
    * sampling state, no driver coordination at any corpus size. Rates
    * resolve at 1/2^32 granularity; the rate lookup compiles to a CASE
    * chain over `rates` (strata-count literals, not data), so `rates` is
    * REQUIRED to be an explicit mix recipe of at most [[MaxRecipeStrata]]
    * strata — the machine-checked form of "recipe-sized, not data-sized",
    * sized to admit real mix recipes (a ~100-language rate map is a
    * recipe; ten thousand per-domain rates are data). Per-stratum
    * thresholds at data cardinality belong in a join —
    * [[sampleStrataJoin]] is that form, with identical survivors. */
  def sampleStrata(df: DataFrame, strataCol: String, keyCol: String,
                   rates: Map[String, Double],
                   defaultRate: Double = 0.0): DataFrame = {
    require(rates.size <= MaxRecipeStrata,
      s"sampleStrata compiles rates to a CASE chain and is bounded to " +
        s"$MaxRecipeStrata strata (got ${rates.size}); data-cardinality " +
        "rate maps belong in a join — use sampleStrataJoin with a " +
        "(stratum, rate) DataFrame (identical survivors, size-gated " +
        "broadcast)")
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0.0 && r <= 1.0),
      "sampling rates must be in [0,1]")
    import graft.functions.{TextFunctions => T}
    val threshold = rates.foldLeft(when(lit(false), lit(""))) {
      case (acc, (stratum, rate)) =>
        acc.when(col(strataCol) === lit(stratum), lit(T.coinThreshold(rate)))
    }.otherwise(lit(T.coinThreshold(defaultRate)))
    df.filter(substring(md5(col(keyCol).cast("string")), 1, 8) < threshold)
  }

  /** Join-based companion of [[sampleStrata]] for DATA-CARDINALITY rate
    * maps (per-domain, per-url-host — strata counts far past
    * [[MaxRecipeStrata]]): `ratesDf` is a (strataCol, `rate` DOUBLE)
    * relation; each row's md5 coin is compared against its stratum's
    * threshold after a size-gated join (broadcast under Dedup's fixed gate,
    * shuffled past it — never an unbounded driver broadcast). Strata
    * absent from `ratesDf` fall back to `defaultRate`. Rate-for-rate
    * IDENTICAL survivors to [[sampleStrata]] — the same md5 coin and the
    * same 1/2^32 threshold arithmetic, reproduced engine-side
    * ([[thresholdExpr]]) instead of as driver literals — so recipes can
    * migrate between the two forms as they grow without changing which
    * documents survive. ONE pass over the corpus: a left-outer join
    * against the validated rates relation, strata absent from `ratesDf`
    * (join miss ⇒ NULL) coalescing to `defaultRate` — not an
    * inner ∪ anti union, which scans the corpus twice for the same
    * answer. `ratesDf` is validated engine-side the same way the rates
    * themselves are: a DUPLICATE stratum row raises (the join would
    * otherwise fan each document out once per rate row — a sampler that
    * silently duplicates its survivors), a NULL rate raises (it would
    * otherwise be indistinguishable from an unlisted stratum and
    * silently take the default), and rates outside [0, 1] fail at
    * evaluation time via an engine-side check constraint. */
  def sampleStrataJoin(df: DataFrame, strataCol: String, keyCol: String,
                       ratesDf: DataFrame,
                       defaultRate: Double = 0.0): DataFrame = {
    require(defaultRate >= 0.0 && defaultRate <= 1.0,
      "defaultRate must be in [0,1]")
    // one rate per stratum is a correctness precondition, so it is
    // enforced on the rates relation (strata-cardinality, one tiny agg)
    // before any document touches the join
    val rates = ratesDf
      .select(col(strataCol), col("rate").cast("double").as("__rate"))
      .groupBy(strataCol)
      .agg(count(lit(1)).as("__n"), first(col("__rate")).as("__rate"))
      .select(col(strataCol),
        when(col("__n") > lit(1), raise_error(concat(
            lit("sampleStrataJoin: duplicate rate rows for stratum "),
            col(strataCol).cast("string"))))
          .when(col("__rate").isNull, raise_error(concat(
            lit("sampleStrataJoin: NULL rate for stratum "),
            col(strataCol).cast("string"))))
          .otherwise(col("__rate")).as("__rate"))
    graft.operators.Dedup.sizeGatedFilterJoin(
        df, rates, Seq(strataCol), "left_outer")
      .filter(substring(md5(col(keyCol).cast("string")), 1, 8)
        < thresholdExpr(coalesce(col("__rate"), lit(defaultRate))))
      .drop("__rate")
  }

  /** Engine-side [[graft.functions.TextFunctions.coinThreshold]]: the same
    * 8-lowercase-hex threshold (`"g"` at rate ≥ 1 — above every hex
    * digest) computed from a rate COLUMN, for rate maps that live in data
    * rather than in the recipe. Out-of-range rates raise instead of
    * silently sampling nothing/everything. */
  private[graft] def thresholdExpr(rate: Column): Column = {
    val checked = when(rate < 0.0 || rate > 1.0,
      raise_error(concat(lit("sampling rate out of [0,1]: "), rate)))
      .otherwise(rate)
    when(checked >= 1.0, lit("g"))
      .otherwise(lpad(lower(hex((checked * 4294967296.0).cast("long"))), 8, "0"))
  }
}
