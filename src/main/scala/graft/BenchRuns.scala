package graft

/** Pass scheduling and summarization for [[Bench]], factored out of the
  * `main` so the measurement policy is spec-testable without a SparkSession.
  *
  * Policy (see Bench.scala's comments for the measured motivation):
  *   - one fixed schedule over the whole suite: [[WarmupPasses]] discarded
  *     warm-up passes, one noop-writer honesty pass, then
  *     [[RecordedPasses]] recorded passes. The [[BudgetSeconds]] wall
  *     budget can skip only the honesty pass and the last recorded pass;
  *   - per-query headline = MINIMUM over recorded passes (least-contended
  *     observation; a failed pass reports -1 and is excluded);
  *   - environment noise = the delta between the two FASTEST pass totals —
  *     a lone ambient spike stays visible in the raw `pass_totals` without
  *     polluting the steady-state figure; past [[NoiseFlagPct]] the
  *     artifact marks itself `noise_flagged`.
  */
object BenchRuns {
  val WarmupPasses = 2
  val RecordedPasses = 3
  /** Recorded passes that run even with the wall budget spent: the two the
    * noise fence compares. */
  val MinRecordedPasses = 2
  /** Wall budget for the whole run, warm-up included, from JVM start. */
  val BudgetSeconds = 1200.0
  val NoiseFlagPct = 8.0
  val RegressFactor = 1.5

  /** The queries a `SPARK_GRAFT_BENCH_ONLY`-style comma list selects from
    * `known` (all of them when unset). A name that is not registered — or
    * a list naming none — fails loudly with the known names: a typo must
    * not bench zero queries and overwrite the tripwire base with it. */
  def select[T](known: Map[String, T], only: Option[String]): Map[String, T] =
    only.fold(known) { list =>
      val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
      val unknown = names -- known.keySet
      require(names.nonEmpty && unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY='$list': unknown query names " +
          s"${unknown.toSeq.sorted.mkString("[", ", ", "]")}; known: " +
          known.keys.toSeq.sorted.mkString(", "))
      known.filter { case (n, _) => names(n) }
    }

  /** The passes one bench run executed, each a query -> seconds map. */
  final case class Passes(warmup: Seq[Map[String, Double]],
                          noop: Seq[Map[String, Double]],
                          recorded: Seq[Map[String, Double]])

  /** Run the fixed schedule; `runPass(noop)` times one pass over the
    * suite (`noop` = materialize through the noop writer). `outOfTime` is
    * consulted before the honesty pass and before the last recorded pass
    * only — no other pass is ever skipped or added. */
  def schedule(outOfTime: () => Boolean)(
      runPass: Boolean => Map[String, Double]): Passes = {
    val warmup = Vector.fill(WarmupPasses)(runPass(false))
    val noop = if (outOfTime()) Vector.empty else Vector(runPass(true))
    val recorded = (1 to RecordedPasses).iterator
      .takeWhile(i => i <= MinRecordedPasses || !outOfTime())
      .map(_ => runPass(false)).toVector
    Passes(warmup, noop, recorded)
  }

  /** Percent gap between the two smallest positive totals; 0 when fewer
    * than two positive observations exist (nothing to disagree).
    */
  def fastestPairDeltaPct(totals: Seq[Double]): Double = {
    val ok = totals.filter(_ > 0).sorted
    if (ok.size < 2) 0.0 else (ok(1) - ok(0)) / ok(0) * 100.0
  }

  /** Sum of the successful (non-negative) per-query times in one pass. */
  def passTotal(pass: Map[String, Double]): Double =
    pass.values.filter(_ >= 0.0).sum

  /** Per-query headline times plus health classification.
    *
    * @param minTimes  query -> min successful seconds, or -1.0 if the query
    *                  failed every pass
    * @param failed    queries with no successful pass
    * @param flaky     queries that succeeded some passes but not all — they
    *                  report a best time yet must not read as healthy
    */
  final case class Summary(
      minTimes: Seq[(String, Double)],
      failed: Seq[String],
      flaky: Seq[String])

  def summarize(names: Seq[String],
                perPass: Seq[Map[String, Double]]): Summary = {
    val successes: Map[String, Seq[Double]] =
      names.map(n => n -> perPass.flatMap(_.get(n)).filter(_ >= 0.0)).toMap
    val minTimes = names.map { n =>
      n -> (if (successes(n).isEmpty) -1.0 else successes(n).min)
    }
    val failed = minTimes.collect { case (n, v) if v < 0 => n }
    val flaky = names.filter(n =>
      successes(n).nonEmpty && successes(n).size < perPass.size)
    Summary(minTimes, failed, flaky)
  }

  /** Extract the `"queries":{...}` per-query seconds map from a bench
    * artifact (`bench_queries.json` or its `_c<cpus>` sibling).
    * Values are plain numbers and keys plain identifiers, so a targeted
    * scan suffices — no JSON library in the unmanaged classpath. Returns
    * empty on any shape surprise (missing file content, renamed key,
    * truncation): a tripwire must degrade to silence, never fail the
    * bench that feeds the round's artifact. */
  def parseQueryTimes(json: String): Map[String, Double] = {
    val start = json.indexOf("\"queries\"")
    if (start < 0) return Map.empty
    val open = json.indexOf('{', start)
    val close = if (open < 0) -1 else json.indexOf('}', open)
    if (close < 0) return Map.empty
    val body = json.substring(open + 1, close)
    val entry = """"([^"]+)"\s*:\s*(-?[0-9][0-9.eE+-]*)""".r
    entry.findAllMatchIn(body).flatMap { m =>
      m.group(2).toDoubleOption.map(m.group(1) -> _)
    }.toMap
  }

  /** True when a bench artifact carries `"noise_flagged":true` — its
    * numbers were measured under contamination (by its own fastest-pair
    * gauges) and must not serve as a cross-round comparison base.
    * Artifacts predating the flag (no key) read as not flagged. */
  def parseNoiseFlag(json: String): Boolean =
    """"noise_flagged"\s*:\s*true""".r.findFirstIn(json).isDefined

  /** Cross-round regression tripwire: queries whose current headline time
    * exceeds `factor` × the previous artifact's time, as name → ratio.
    * Only queries measured successfully (> 0) in BOTH rounds can trip —
    * new queries, removed queries, and failed measurements are not
    * regressions. Sub-100ms pairs are ignored: at that magnitude the
    * ratio measures scheduler jitter, not code. */
  def regressions(prev: Map[String, Double], now: Seq[(String, Double)],
                  factor: Double = RegressFactor,
                  minSeconds: Double = 0.1): Seq[(String, Double)] =
    now.collect {
      case (n, t) if t > 0 && prev.get(n).exists(p =>
          p > 0 && math.max(p, t) >= minSeconds && t > p * factor) =>
        n -> t / prev(n)
    }.sortBy(-_._2)
}
