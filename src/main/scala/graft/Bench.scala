package graft
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import graft.tools.DevSession

/** Bench over the `SparkEntry.queries` contract, on one fixed
  * schedule ([[BenchRuns.schedule]]). The full artifact goes to
  * `SPARK_GRAFT_BENCH_OUT` (default `bench_queries.json`) and its
  * `_c<cpus>` sibling; the LAST stdout line is a compact JSON summary.
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=<sfDir> sbt -batch "runMain graft.Bench" | tail -n 1
  * }}}
  *
  * `SPARK_GRAFT_BENCH_ONLY=q1,q2` times just those queries (an unknown
  * name fails before the session starts).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val runStart = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
    val selected = BenchRuns.select(SparkEntry.queries, only)
    val cpus = DevSession.cpus
    val spark = DevSession.create()
    DevSession.warmUp(spark, sfDir)
    // The recorded action is count() (cheap, stable for regression
    // tracking — but Catalyst prunes computed columns a count never
    // reads); the honesty pass writes through the noop writer instead.
    // A failed query must not masquerade as a fast one: it reports -1 in
    // the per-query map, is excluded from the totals, and is listed in
    // "failed".
    def runPass(noop: Boolean): Map[String, Double] =
      selected.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try {
            val df = fn(spark, sfDir)
            if (noop) df.write.format("noop").mode("overwrite").save()
            else df.count()
            true
          }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false }
        val secs = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache() // release operator-persisted relations
        name -> (if (ok) secs else -1.0)
      }
    // Single-run timings swing by tens of percent on a shared box, so the
    // suite runs several times and each query reports its MINIMUM over
    // the recorded passes — the least-contended observation is the best
    // estimator of the code's true cost. JIT/codegen warm-up is CODE, not
    // noise, and it extends well past the first pass (r9 measured pass
    // totals 87.0 → 73.5 → 65.3 s), so the warm-up passes are discarded.
    // HONESTY PASS: count() lets Catalyst prune computed columns a count
    // never reads (the events_interval hazard — an expensive expression
    // feeding no aggregate/filter/sort would bench as free). One
    // noop-writer pass fully materializes every row; its per-query times
    // land in `noop_queries`, so a count-vs-noop gap names exactly the
    // queries whose count-mode number understates the work. It runs
    // before the recorded passes and doubles as a third warm-up.
    // The wall budget can skip only the honesty pass and the third
    // recorded pass, so a degraded box yields a shorter run, never one
    // with fewer than the two recorded passes the noise fence compares.
    def outOfTime(): Boolean =
      (System.nanoTime() - runStart) / 1e9 > BenchRuns.BudgetSeconds
    val passes = BenchRuns.schedule(() => outOfTime())(runPass)
    if (passes.noop.isEmpty)
      System.err.println("[bench] no-op honesty pass skipped: wall budget spent")
    val summary = BenchRuns.summarize(selected.keys.toSeq, passes.recorded)
    val noopSummary =
      if (passes.noop.isEmpty) BenchRuns.Summary(Nil, Nil, Nil)
      else BenchRuns.summarize(selected.keys.toSeq, passes.noop)
    val minTimes = summary.minTimes
    def jsonMap(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def jsonList(xs: Seq[Any]): String = xs.mkString("[", ",", "]")
    def regJson(rs: Seq[(String, Double)], digits: Int): String = rs
      .map { case (n, r) => "\"" + n + "\":" + s"%.${digits}f".format(r) }
      .mkString("{", ",", "}")
    val failed = summary.failed.map("\"" + _ + "\"")
    val flaky = summary.flaky.map("\"" + _ + "\"")
    val total = minTimes.collect { case (_, v) if v >= 0 => v }.sum
    val passTotals = passes.recorded.map(BenchRuns.passTotal)
    // The delta between the two LEAST-CONTENDED (fastest) recorded totals
    // is the environment-noise figure — a lone ambient spike shows in the
    // raw totals, not here.
    val repeatDeltaPct = BenchRuns.fastestPairDeltaPct(passTotals)
    // NOISE FENCE: r14's artifact recorded numbers ~2x reality while its
    // own gauges screamed contamination (repeat delta 26.5%, warm-up
    // passes 3-8x normal) — and nothing failed loudly, so the bad numbers
    // read as a regression until hand-adjudicated. Past the threshold the
    // artifact carries noise_flagged=true: its numbers must not become a
    // cross-round comparison base, stated BY the artifact itself.
    val noiseFlagged = repeatDeltaPct > BenchRuns.NoiseFlagPct
    if (noiseFlagged)
      System.err.println(f"[bench] NOISE-FLAGGED artifact: delta " +
        f"$repeatDeltaPct%.1f%% (threshold ${BenchRuns.NoiseFlagPct}%.1f%%):" +
        " not a regression baseline")
    // Cross-round tripwire: diff this run's per-query times against the
    // artifact the PREVIOUS round left, before overwriting it, and name
    // >1.5x regressions in the JSON, over ALL queries (r14 proved a
    // partial scope lets 70/118 queries regress unnoticed). A
    // noise-flagged previous artifact is not used as a base (its numbers
    // are known-bad); sub-100ms pairs are exempt (ratio jitter on short
    // queries is scheduling, not code).
    val outPath = Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_queries.json"))
    // Per-cpu-count sibling (`bench_queries_c32.json` for a 32-core run):
    // runs at different core counts share one working tree, and r21's c8
    // re-run overwrote the c32 artifact. The sibling keeps each core
    // count's run at its own path, and the tripwire prefers it as its base
    // (c8 minima against c32 minima flag scaling, not regressions).
    val perCpuPath = {
      val n = outPath.getFileName.toString
      val sib =
        if (n.endsWith(".json")) n.stripSuffix(".json") + s"_c$cpus.json"
        else n + s"_c$cpus"
      if (outPath.getParent == null) Paths.get(sib)
      else outPath.getParent.resolve(sib)
    }
    val prevJson =
      if (Files.isReadable(perCpuPath)) Files.readString(perCpuPath)
      else if (Files.isReadable(outPath)) Files.readString(outPath)
      else ""
    val prevTimes =
      if (BenchRuns.parseNoiseFlag(prevJson)) Map.empty[String, Double]
      else BenchRuns.parseQueryTimes(prevJson)
    val regressed = BenchRuns.regressions(prevTimes, minTimes)
    regressed.foreach { case (n, r) =>
      System.err.println(f"[bench] REGRESSION $n: ${r}%.2fx vs previous round")
    }
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""queries":${jsonMap(minTimes)},"cpus":"$cpus",""" +
      s""""failed":${jsonList(failed)},"flaky":${jsonList(flaky)},""" +
      s""""passes":${passes.recorded.size},""" +
      s""""warmup_passes":${passes.warmup.size},""" +
      s""""warmup_totals":${jsonList(passes.warmup.map(BenchRuns.passTotal))},""" +
      s""""pass_totals":${jsonList(passTotals)},""" +
      s""""repeat_delta_pct":$repeatDeltaPct,""" +
      s""""noise_flag_pct":${BenchRuns.NoiseFlagPct},""" +
      s""""noise_flagged":$noiseFlagged,""" +
      s""""noop_passes":${passes.noop.size},""" +
      s""""noop_pass_totals":${jsonList(passes.noop.map(BenchRuns.passTotal))},""" +
      s""""noop_queries":${jsonMap(noopSummary.minTimes)},""" +
      s""""regression_factor":${BenchRuns.RegressFactor},""" +
      s""""regression_scope":"all",""" +
      s""""regressions":${regJson(regressed, 3)},""" +
      s""""sf":"$sfDir"}"""
    Files.write(outPath, json.getBytes(UTF_8))
    // Focused SPARK_GRAFT_BENCH_ONLY runs skip the sibling — a partial
    // map must not become a full run's base.
    if (only.isEmpty) Files.write(perCpuPath, json.getBytes(UTF_8))
    spark.stop()
    // Compact machine-readable summary, printed as the LAST stdout line.
    // The full artifact is ~7.6 KB and a reader may keep only a 2000-char
    // stdout tail (the 121 query names alone exceed 1500 bytes), so this
    // line carries the headline numbers in < 1500 bytes (lists capped,
    // values rounded) and points at the file holding the full map.
    def capped(xs: Seq[String]): String = jsonList(xs.take(10))
    val fullMapPath = if (only.isEmpty) perCpuPath else outPath
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec",""" +
      s""""full_map_in":"${fullMapPath.getFileName}",""" +
      s""""n_queries":${minTimes.size},""" +
      s""""n_failed":${failed.size},"failed":${capped(failed)},""" +
      s""""n_flaky":${flaky.size},"flaky":${capped(flaky)},""" +
      s""""noise_flagged":$noiseFlagged,""" +
      f""""repeat_delta_pct":$repeatDeltaPct%.2f,""" +
      s""""passes":${passes.recorded.size},""" +
      s""""cpus":"$cpus","n_regressions":${regressed.size},""" +
      s""""regressions":${regJson(regressed.take(12), 2)},"sf":"$sfDir"}""")
  }
}
