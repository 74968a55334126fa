package graft
import org.apache.spark.sql.SparkSession
import graft.tools.DevSession
object Bench {
  def main(args: Array[String]): Unit = {
    val runStart = System.nanoTime()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = DevSession.cpus
    val spark = DevSession.create()
    // Warm up JIT, codegen and the parquet reader once so the first timed
    // query doesn't absorb JVM startup cost.
    spark.range(0, 1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
    // Default action is count() (cheap, stable for regression tracking —
    // but Catalyst prunes computed columns a count never reads);
    // SPARK_GRAFT_BENCH_MODE=noop forces full materialization through the
    // noop writer for honest throughput numbers.
    val noop = sys.env.get("SPARK_GRAFT_BENCH_MODE").contains("noop")
    // Dev loop: SPARK_GRAFT_BENCH_ONLY=q1,q2 times just those queries.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    // Single-run timings swing by tens of percent on a shared box; run the
    // suite several times and report the per-query MINIMUM — the
    // least-contended observation is the best estimator of the code's true
    // cost. Both raw pass totals and their spread are emitted so a noisy
    // run is visible in the JSON itself (extra keys are additive to the
    // driver contract). JIT/codegen warmup is CODE, not noise, and it
    // extends well past the first pass (r9 measured pass totals 87.0 →
    // 73.5 → 65.3s — still dropping at pass 3), so SPARK_GRAFT_BENCH_WARMUP
    // (default 2) full passes run and are DISCARDED before the recorded
    // ones: the recorded passes measure steady state, and repeat_delta_pct
    // over them gauges environment noise alone instead of folding warmup in.
    //
    // TIERED SCHEDULING: the suite splits into the CORE tier — queries the
    // BASELINE_BENCH.json ratio audit compares, which need the tight
    // min-of-many estimate — and the EXTENDED tier (everything else: the
    // composed heavy contracts whose per-pass cost dominates the wall
    // budget but which no cross-engine ratio consumes). Core runs the full
    // adaptive until-two-agree schedule; extended runs a fixed
    // SPARK_GRAFT_BENCH_EXT_PASSES (default 2) and sits out the chase. A
    // full suite at ~97 s/pass × (2 warm-ups + 5 recorded) was brushing
    // the driver's bench budget; tiered, the chase repeats only the ~17 s
    // core.
    val passes = math.max(1, sys.env.get("SPARK_GRAFT_BENCH_PASSES")
      .flatMap(_.trim.toIntOption).getOrElse(3))
    val warmupPasses = math.max(0, sys.env.get("SPARK_GRAFT_BENCH_WARMUP")
      .flatMap(_.trim.toIntOption).getOrElse(2))
    val extPasses = math.max(1, sys.env.get("SPARK_GRAFT_BENCH_EXT_PASSES")
      .flatMap(_.trim.toIntOption).getOrElse(2))
    val baselinePath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BASELINE", "BASELINE_BENCH.json"))
    val coreSet: Set[String] =
      if (java.nio.file.Files.isReadable(baselinePath))
        BenchRuns.parseQueryTimes(java.nio.file.Files.readString(baselinePath))
          .keySet
      else Set.empty
    // no baseline in cwd -> no tiering signal -> everything is core (the
    // pre-tiering behavior)
    val (coreQ, extQ) =
      if (coreSet.isEmpty)
        (selected,
          Map.empty[String, (SparkSession, String) => org.apache.spark.sql.DataFrame])
      else selected.partition { case (n, _) => coreSet(n) }
    // A failed query must not masquerade as a fast one: it reports -1 in
    // the per-query map, is excluded from the totals, and is listed in
    // "failed".
    def runPassOn(qs: Iterable[(String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame)],
        useNoop: Boolean = noop): Map[String, Double] =
      qs.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok = try {
            val df = fn(spark, sfDir)
            if (useNoop) df.write.format("noop").mode("overwrite").save()
            else df.count()
            true
          }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false }
        val secs = (System.nanoTime() - t0) / 1e9
        spark.catalog.clearCache() // release operator-persisted relations
        name -> (if (ok) secs else -1.0)
      }.toMap
    // The box is noisy in BURSTS (one pass can catch an ambient spike and
    // read 50% high), so after the configured passes, keep measuring —
    // bounded by SPARK_GRAFT_BENCH_MAX_PASSES — until the two fastest
    // recorded totals agree within SPARK_GRAFT_BENCH_DELTA_TARGET
    // percent. The agreement pair is the steady-state estimate, matching
    // the per-query min-of-passes philosophy; every raw pass total is
    // still reported so a spike stays visible.
    val deltaTarget = sys.env.get("SPARK_GRAFT_BENCH_DELTA_TARGET")
      .flatMap(_.trim.toDoubleOption).getOrElse(3.0)
    val maxPasses = math.max(passes,
      sys.env.get("SPARK_GRAFT_BENCH_MAX_PASSES")
        .flatMap(_.trim.toIntOption).getOrElse(10))
    // Wall budget for the whole run (warm-up included), measured from JVM
    // start: the adaptive chases stop extending once spent, so a bursty
    // box degrades to fewer recorded passes instead of an unboundedly
    // long bench.
    val maxSeconds = sys.env.get("SPARK_GRAFT_BENCH_MAX_SECONDS")
      .flatMap(_.trim.toDoubleOption).getOrElse(1200.0)
    def outOfTime(): Boolean =
      (System.nanoTime() - runStart) / 1e9 > maxSeconds
    // warm-ups cover the WHOLE suite: the extended tier's codegen/JIT
    // needs warming exactly like the core's
    val warmupTotals = (1 to warmupPasses).map { _ =>
      BenchRuns.passTotal(runPassOn(selected))
    }
    // HONESTY PASS: the default count() action lets Catalyst prune
    // computed columns a count never reads (the events_interval hazard —
    // an expensive expression feeding no aggregate/filter/sort would
    // bench as free). One noop-writer pass over the whole suite fully
    // materializes every row; per-query noop times land in the artifact
    // so a count-vs-noop gap names exactly the queries whose count-mode
    // number understates the work. Skipped when the recorded passes are
    // already noop-mode. Placed BEFORE the recorded passes: it doubles
    // as a third full-materialization warm-up (the r15 quiet run showed
    // the heavy ext queries still improving on their third execution —
    // 149 s → 109 s — which read as 37% "noise" when it was late JIT).
    val noopPasses = math.max(0, sys.env.get("SPARK_GRAFT_BENCH_NOOP_PASSES")
      .flatMap(_.trim.toIntOption).getOrElse(if (noop) 0 else 1))
    // the honesty passes respect the run's wall budget like the chases —
    // rechecked BEFORE EACH pass (a strict filter would gate all passes
    // on the budget at one instant, then run them all regardless) and
    // PREDICTIVELY: on a degraded box one noop pass can eat the entire
    // remaining budget after the pre-pass check passed (the r19 driver
    // re-run spent 1163 s on it and starved both chases), so a pass is
    // skipped when the remaining budget cannot plausibly cover it —
    // estimated from the slowest full-suite pass observed so far (the
    // warm-ups run the same suite; 1.25x pad because noop materializes
    // rows a count-mode warm-up prunes). A skip is recorded in the
    // artifact (`noop_skipped_budget`) so a missing honesty pass reads
    // as a budget decision, not a silent omission.
    var fullSuiteTotals = warmupTotals.toVector
    def remainingBudget(): Double =
      maxSeconds - (System.nanoTime() - runStart) / 1e9
    val noopPerPass = (1 to noopPasses).iterator
      .takeWhile(_ => !outOfTime() &&
        BenchRuns.passFitsBudget(remainingBudget(), fullSuiteTotals))
      .map { _ =>
        val p = runPassOn(selected, useNoop = true)
        fullSuiteTotals = fullSuiteTotals :+ BenchRuns.passTotal(p)
        p
      }.toVector
    val noopSkippedBudget = noopPerPass.size < noopPasses
    if (noopSkippedBudget)
      System.err.println("[bench] no-op honesty pass skipped: " +
        (if (outOfTime()) "wall budget spent"
         else f"remaining budget ${remainingBudget()}%.0f s cannot cover " +
           f"an estimated ${BenchRuns.passEstimate(fullSuiteTotals)}%.0f s " +
           "pass"))
    // summarize over EXECUTED passes only: with zero executed (noop-mode
    // run, or budget spent) the artifact must report an empty map, not
    // 119 spurious -1.0 "failures"
    val noopSummary =
      if (noopPerPass.isEmpty) BenchRuns.Summary(Nil, Nil, Nil)
      else BenchRuns.summarize(selected.keys.toSeq, noopPerPass)
    // extended tier next, then the core chase. The ext tier gets the
    // SAME until-two-agree adaptive schedule as the core, just with a
    // looser target and a tighter cap (each ext pass is ~5x a core pass,
    // so the chase extends only when the configured passes genuinely
    // disagree — exactly the case where a fixed-2 schedule would have
    // recorded an untrustworthy minimum). The chase target must sit
    // comfortably UNDER the 8% noise fence: r15's target EQUALLED the
    // fence, so a run could stop at two passes agreeing at 7.3% — 0.7pt
    // from self-invalidating as the next round's tripwire base. At 4%
    // the chase keeps measuring until the pair is well clear of the
    // fence (or the pass cap / wall budget stops it, in which case the
    // fence still flags honestly).
    val extDeltaTarget = sys.env.get("SPARK_GRAFT_BENCH_EXT_DELTA_TARGET")
      .flatMap(_.trim.toDoubleOption).getOrElse(4.0)
    val extMaxPasses = math.max(extPasses,
      sys.env.get("SPARK_GRAFT_BENCH_EXT_MAX_PASSES")
        .flatMap(_.trim.toIntOption).getOrElse(5))
    // noise fence threshold, declared before the chases because it doubles
    // as their emergency-pass trigger: a budget-stopped chase whose fastest
    // pair disagrees past the FENCE (not just the chase target) buys one
    // overdraft pass rather than shipping a self-invalidating artifact
    // (r18: ext totals 98 s vs 423 s, budget spent, noise_flagged:true —
    // one more pass would almost certainly have paired with the 98).
    val noiseFlagPct = sys.env.get("SPARK_GRAFT_BENCH_NOISE_FLAG")
      .flatMap(_.trim.toDoubleOption).getOrElse(8.0)
    val extChase =
      if (extQ.isEmpty) BenchRuns.Chase(Vector.empty, emergencyPass = false)
      else BenchRuns.adaptivePasses(extPasses, extMaxPasses, extDeltaTarget,
        outOfTime = () => outOfTime(),
        emergencyAbovePct = noiseFlagPct)(() => runPassOn(extQ))
    val extPerPass = extChase.passes
    // Why each tier's chase stopped — "agreed" is the only healthy value;
    // "budget"/"pass-cap" name a cut measurement so the artifact itself
    // says whether a disagreement was chased to conclusion or truncated.
    // The budget state is sampled IMMEDIATELY after each chase: pass
    // counts alone cannot attribute a stop, and the core chase's own
    // spending must not retroactively re-label the ext tier's.
    val extChaseStop =
      if (extQ.isEmpty) "agreed"
      else BenchRuns.chaseStop(extPerPass.map(BenchRuns.passTotal),
        extMaxPasses, extDeltaTarget, budgetSpent = outOfTime())
    val coreChase = BenchRuns.adaptivePasses(passes, maxPasses, deltaTarget,
      outOfTime = () => outOfTime(),
      emergencyAbovePct = noiseFlagPct)(() => runPassOn(coreQ))
    val corePerPass = coreChase.passes
    val coreChaseStop = BenchRuns.chaseStop(
      corePerPass.map(BenchRuns.passTotal), maxPasses, deltaTarget,
      budgetSpent = outOfTime())
    // A query that failed SOME passes still reports its best successful
    // time, but must not read as healthy — flag it. Summaries are
    // per-tier (a tier's queries appear only in its own passes) and merge.
    val coreSummary = BenchRuns.summarize(coreQ.keys.toSeq, corePerPass)
    val extSummary = BenchRuns.summarize(extQ.keys.toSeq, extPerPass)
    val minTimes = coreSummary.minTimes ++ extSummary.minTimes
    val qs = minTimes.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failed = (coreSummary.failed ++ extSummary.failed).map("\"" + _ + "\"")
    val flaky = (coreSummary.flaky ++ extSummary.flaky).map("\"" + _ + "\"")
    val total = minTimes.collect { case (_, v) if v >= 0 => v }.sum
    val corePassTotals = corePerPass.map(BenchRuns.passTotal)
    val extPassTotals = extPerPass.map(BenchRuns.passTotal)
    // OUTLIER TRIM: passes contaminated by an ambient burst (> factor ×
    // the median total) stay in the raw pass_totals — the honesty
    // artifact is complete — but are excluded from the summary median so
    // it measures the box's steady state, not its worst moments (r16:
    // two of ten passes at 1.4×/2.2× median inflated the median ~25%).
    // The fastest-pair agreement gauges are outlier-immune by
    // construction (they read the two SMALLEST totals).
    // factor <= 1 would classify EVERY pass an outlier and report a
    // silently-corrupt median of nothing — refuse it, keep the default
    val outlierFactor = sys.env.get("SPARK_GRAFT_BENCH_OUTLIER")
      .flatMap(_.trim.toDoubleOption) match {
      case Some(f) if f > 1.0 => f
      case Some(f) =>
        System.err.println(s"[bench] ignoring SPARK_GRAFT_BENCH_OUTLIER=" +
          s"$f (must exceed 1.0 — 1.0 is the median itself); using 1.3")
        1.3
      case None => 1.3
    }
    val (coreKept, coreOutliers) =
      BenchRuns.splitOutliers(corePassTotals, outlierFactor)
    val (_, extOutliers) =
      BenchRuns.splitOutliers(extPassTotals, outlierFactor)
    // recorded passes are post-warmup steady state; the delta between the
    // two LEAST-CONTENDED (fastest) core totals is the environment-noise
    // figure the ratio audit cares about — a lone ambient spike shows in
    // the raw totals, not here. The ext tier gets its own gauge.
    val repeatDeltaPct = BenchRuns.fastestPairDeltaPct(corePassTotals)
    val extRepeatDeltaPct = BenchRuns.fastestPairDeltaPct(extPassTotals)
    // NOISE FENCE: r14's artifact recorded ext numbers ~2x reality while
    // its own gauges screamed contamination (repeat_delta_pct 26.5%,
    // warmup passes 3-8x normal) — and nothing failed loudly, so the bad
    // numbers read as a regression until hand-adjudicated. When either
    // tier's fastest-pair delta exceeds the threshold, the artifact
    // carries noise_flagged=true: its numbers must not become a
    // cross-round comparison base, stated BY the artifact itself.
    val noiseFlagged =
      repeatDeltaPct > noiseFlagPct || extRepeatDeltaPct > noiseFlagPct
    if (noiseFlagged)
      System.err.println(f"[bench] NOISE-FLAGGED artifact: core delta " +
        f"$repeatDeltaPct%.1f%%, ext delta $extRepeatDeltaPct%.1f%% " +
        f"(threshold $noiseFlagPct%.1f%%) — not a regression baseline")
    // Cross-round tripwire: diff this run's headline times against the
    // artifact the PREVIOUS round left at the output path, before
    // overwriting it. Named >1.5x regressions land in the JSON (the audit
    // the judge previously did by hand). Scope: ALL tiers — r14 proved
    // the core-only scope lets 70/118 queries regress (or a contaminated
    // artifact sail through) unnoticed. The ext tier's fixed-2-pass
    // minimums are noisier than the core chase's, so spurious flags are
    // fenced structurally instead of by exclusion: a noise-flagged
    // PREVIOUS artifact is not used as a base (its numbers are known-bad),
    // a noise-flagged CURRENT run reports its regressions as suspect via
    // the flag, and sub-second pairs are held to a higher bar (ratio
    // jitter on short queries is scheduling, not code).
    val outPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_queries.json"))
    // same-cpus sibling (bench_queries_c32.json for a 32-core run): the
    // preferred tripwire base AND an overwrite-proof per-tier artifact —
    // see the write below
    val perCpuPath = {
      val n = outPath.getFileName.toString
      val sib =
        if (n.endsWith(".json"))
          n.stripSuffix(".json") + s"_c$cpus.json"
        else n + s"_c$cpus"
      if (outPath.getParent == null) java.nio.file.Paths.get(sib)
      else outPath.getParent.resolve(sib)
    }
    val regressFactor = sys.env.get("SPARK_GRAFT_BENCH_REGRESS")
      .flatMap(_.trim.toDoubleOption).getOrElse(1.5)
    val prevJson =
      if (java.nio.file.Files.isReadable(perCpuPath))
        java.nio.file.Files.readString(perCpuPath)
      else if (java.nio.file.Files.isReadable(outPath))
        java.nio.file.Files.readString(outPath)
      else ""
    val prevTimes =
      if (BenchRuns.parseNoiseFlag(prevJson)) Map.empty[String, Double]
      else BenchRuns.parseQueryTimes(prevJson)
    val coreMinTimes = minTimes.filter { case (n, _) => coreQ.contains(n) }
    val extMinTimes = minTimes.filter { case (n, _) => extQ.contains(n) }
    val regressed = (BenchRuns.regressions(prevTimes, coreMinTimes,
        regressFactor) ++
      BenchRuns.regressions(prevTimes, extMinTimes, regressFactor,
        minSeconds = 0.5)).sortBy(-_._2)
    regressed.foreach { case (n, r) =>
      System.err.println(f"[bench] REGRESSION $n: ${r}%.2fx vs previous round")
    }
    val regJson = regressed.map { case (n, r) => s"\"" + n + "\":" + f"$r%.3f" }
      .mkString("{", ",", "}")
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""cpus":"$cpus",""" +
      s""""failed":${failed.mkString("[", ",", "]")},""" +
      s""""flaky":${flaky.mkString("[", ",", "]")},""" +
      s""""passes":${corePerPass.size},""" +
      s""""ext_passes":${extPerPass.size},""" +
      s""""core_queries":${coreQ.size},""" +
      s""""ext_queries":${extQ.size},""" +
      s""""warmup_passes":$warmupPasses,""" +
      s""""warmup_totals":${warmupTotals.mkString("[", ",", "]")},""" +
      s""""pass_totals":${corePassTotals.mkString("[", ",", "]")},""" +
      s""""ext_pass_totals":${extPassTotals.mkString("[", ",", "]")},""" +
      s""""pass_total_median":${BenchRuns.medianTotal(coreKept)},""" +
      s""""outlier_factor":$outlierFactor,""" +
      s""""outlier_pass_totals":${coreOutliers.mkString("[", ",", "]")},""" +
      s""""ext_outlier_pass_totals":${extOutliers
        .mkString("[", ",", "]")},""" +
      s""""repeat_delta_pct":$repeatDeltaPct,""" +
      s""""ext_repeat_delta_pct":$extRepeatDeltaPct,""" +
      s""""core_chase_stop":"$coreChaseStop",""" +
      s""""ext_chase_stop":"$extChaseStop",""" +
      s""""core_emergency_pass":${coreChase.emergencyPass},""" +
      s""""ext_emergency_pass":${extChase.emergencyPass},""" +
      s""""noise_flag_pct":$noiseFlagPct,""" +
      s""""noise_flagged":$noiseFlagged,""" +
      s""""noop_passes":${noopPerPass.size},""" +
      s""""noop_skipped_budget":$noopSkippedBudget,""" +
      s""""noop_pass_totals":${noopPerPass.map(BenchRuns.passTotal)
        .mkString("[", ",", "]")},""" +
      s""""noop_queries":${noopSummary.minTimes
        .map { case (k, v) => s"\"" + k + "\":" + v }
        .mkString("{", ",", "}")},""" +
      s""""regression_factor":$regressFactor,""" +
      s""""regression_scope":"all",""" +
      s""""regressions":$regJson,""" +
      s""""sf":"$sfDir"}"""
    println(json)
    // The stdout line can fall victim to log-tail truncation when the
    // harness captures only the last N bytes of a long sbt log; persist the
    // identical payload as a file artifact so per-query ratio audits always
    // see the full map.
    java.nio.file.Files.write(outPath,
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Per-cpu-count artifact: the driver re-runs the bench at a lower core
    // count into the SAME working tree, and r21's c8 re-run overwrote the
    // c32 artifact — the 32-core per-query data was simply destroyed. A
    // `bench_queries_c$cpus.json` sibling keeps each core tier's run at
    // its own path; the cross-round tripwire above prefers the same-cpus
    // sibling as its base (comparing c8 minima against c32 minima flags
    // scaling, not regressions). Focused SPARK_GRAFT_BENCH_ONLY runs skip
    // the sibling — a partial map must not become a full run's base.
    if (only.isEmpty)
      java.nio.file.Files.write(perCpuPath,
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // Compact DRIVER-READABLE summary, printed LAST. The full line above
    // is ~7.6 KB; the driver's BENCH artifact keeps only a 2000-char
    // stdout tail, so the line start — and any parseable JSON — has been
    // lost every round since r14 (`parsed: null` throughout). The 121
    // query names alone exceed 1500 bytes, so the full map can never fit
    // the tail: this line carries the headline numbers in < 1500 bytes
    // (lists capped, values rounded) and points at the file artifact that
    // holds the complete per-query map. The full line and both file
    // artifacts are unchanged — this is additive output, not a
    // methodology change (OPTIMIZATION_r22.md "bench contract").
    def capped(xs: Seq[String]): String =
      xs.take(10).mkString("[", ",", "]")
    val regCompact = regressed.take(12)
      .map { case (n, r) => "\"" + n + "\":" + f"$r%.2f" }
      .mkString("{", ",", "}")
    // point at an artifact that was actually written this run: focused
    // SPARK_GRAFT_BENCH_ONLY runs skip the per-cpu sibling
    val fullMapPath = if (only.isEmpty) perCpuPath else outPath
    val compact =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec",""" +
      s""""full_map_in":"${fullMapPath.getFileName}",""" +
      s""""n_queries":${minTimes.size},""" +
      s""""n_failed":${failed.size},"failed":${capped(failed)},""" +
      s""""n_flaky":${flaky.size},"flaky":${capped(flaky)},""" +
      s""""noise_flagged":$noiseFlagged,""" +
      f""""repeat_delta_pct":$repeatDeltaPct%.2f,""" +
      f""""ext_repeat_delta_pct":$extRepeatDeltaPct%.2f,""" +
      s""""core_chase_stop":"$coreChaseStop",""" +
      s""""ext_chase_stop":"$extChaseStop",""" +
      s""""passes":${corePerPass.size},"ext_passes":${extPerPass.size},""" +
      s""""cpus":"$cpus","n_regressions":${regressed.size},""" +
      s""""regressions":$regCompact,"sf":"$sfDir"}"""
    println(compact)
    spark.stop()
  }
}
