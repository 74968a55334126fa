package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import scala.collection.mutable

import graft.SparkEntry

/** Dev CLI over the `SparkEntry.queries` contract, on the bench's session
  * (`DevSession`):
  *
  * {{{
  * runMain graft.tools.Dev run <sfDir> <query> [numRows]
  * runMain graft.tools.Dev explain [--count] <sfDir> <query>...
  * runMain graft.tools.Dev profile <sfDir> <query> [passes] [noop]
  * runMain graft.tools.Dev plans
  * }}}
  *
  *  - `run` prints one query's rows (default 50): eyeball a new contract
  *    query at several SFs before wiring floors, without the full suite.
  *  - `explain` prints each query's formatted physical plan. `--count`
  *    explains the plan the bench's default `count()` action executes:
  *    Catalyst prunes computed columns a count never reads, so an
  *    operator can vanish from that plan while being the point of the
  *    query.
  *  - `profile` splits one query's wall time into plan construction (the
  *    eager probe/fit jobs some operators run inside the query
  *    constructor) and the timed action (`count()`, or the noop writer
  *    with `noop`), listing per-job wall, stages, tasks and shuffle bytes
  *    of the last pass (default 3 passes).
  *  - `plans` prints the curated sf0.01 plan evidence
  *    `scripts/gen_plans.sh` captures into PLANS.md.
  */
object Dev {
  private val usage =
    "usage: Dev run <sfDir> <query> [numRows] | explain [--count] <sfDir> <query>... | " +
      "profile <sfDir> <query> [passes] [noop] | plans"

  def main(args: Array[String]): Unit = {
    val spark = DevSession.create()
    try args.toList match {
      case "run" :: sfDir :: name :: rest =>
        query(name)(spark, sfDir)
          .show(rest.headOption.flatMap(_.toIntOption).getOrElse(50), truncate = false)
      case "explain" :: rest if rest.count(_ != "--count") >= 2 =>
        val sfDir +: names = rest.filterNot(_ == "--count")
        names.foreach { name =>
          val df = query(name)(spark, sfDir)
          println(s"##PLAN $name")
          println(planOf(if (rest.contains("--count")) df.groupBy().count() else df))
        }
      case "profile" :: sfDir :: name :: rest =>
        profile(spark, sfDir, name,
          passes = rest.headOption.flatMap(_.toIntOption).getOrElse(3),
          noop = rest.contains("noop"))
      case "plans" :: Nil =>
        planPicks.foreach { case (name, note) =>
          println(s"\n## $name -- $note\n")
          println("```")
          println(planOf(query(name)(spark, "/root/testdata/sf0.01")))
          println("```")
        }
      case _ => sys.error(usage)
    } finally spark.stop()
  }

  private def query(name: String) = SparkEntry.queries.getOrElse(name,
    sys.error(s"unknown query '$name'; known: " +
      SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  private final case class JobRec(id: Int, desc: String, start: Long,
                                  var end: Long = 0L, var tasks: Int = 0,
                                  var shufRead: Long = 0L, var shufWrite: Long = 0L,
                                  var stages: Int = 0)

  private def profile(spark: SparkSession, sfDir: String, name: String,
                      passes: Int, noop: Boolean): Unit = {
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stageToJob = mutable.HashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.synchronized {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs(js.jobId) = JobRec(js.jobId, desc, js.time)
        js.stageIds.foreach(sid => stageToJob(sid) = js.jobId)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(je.jobId).foreach(_.end = je.time)
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          val m = sc.stageInfo.taskMetrics
          stageToJob.get(sc.stageInfo.stageId).flatMap(jobs.get).foreach { j =>
            j.tasks += sc.stageInfo.numTasks
            j.stages += 1
            if (m != null) {
              j.shufRead += m.shuffleReadMetrics.totalBytesRead
              j.shufWrite += m.shuffleWriteMetrics.bytesWritten
            }
          }
        }
    }
    DevSession.warmUp(spark, sfDir)
    val fn = query(name)
    (1 to passes).foreach { p =>
      spark.sparkContext.addSparkListener(listener)
      jobs.synchronized { jobs.clear(); stageToJob.clear() }
      val t0 = System.nanoTime()
      spark.sparkContext.setJobDescription(s"$name construct")
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      spark.sparkContext.setJobDescription(s"$name action")
      if (noop) df.write.format("noop").mode("overwrite").save() else df.count()
      val t2 = System.nanoTime()
      spark.sparkContext.setJobDescription(null)
      spark.catalog.clearCache()
      val t3 = System.nanoTime()
      // give listener events a beat to drain
      Thread.sleep(200)
      spark.sparkContext.removeSparkListener(listener)
      println(f"## pass $p%d: construct ${(t1 - t0) / 1e9}%.3f s, " +
        f"action ${(t2 - t1) / 1e9}%.3f s, clearCache ${(t3 - t2) / 1e9}%.3f s, " +
        f"total ${(t3 - t0) / 1e9}%.3f s, jobs ${jobs.size}%d")
      if (p == passes) jobs.synchronized {
        jobs.values.foreach { j =>
          val wall = (j.end - j.start) / 1e3
          println(f"  job ${j.id}%3d ${wall}%8.3f s stages=${j.stages}%2d " +
            f"tasks=${j.tasks}%4d shufR=${j.shufRead / 1024}%8d KiB " +
            f"shufW=${j.shufWrite / 1024}%8d KiB  ${j.desc.take(60)}%s")
        }
      }
    }
  }

  /** The representative queries PLANS.md shows, each with what to look
    * for in its plan. */
  private val planPicks = Seq(
    "filter_project" -> "predicate + IN pushdown, column pruning",
    "q3_top10" -> "selective dims broadcast into the fact scan; one agg shuffle",
    "q1_agg" -> "partial/final hash aggregation (map-side combine)",
    "similarity_topk" -> "query batch broadcast; corpus scored map-side; bounded top-k partial aggregation",
    "asof_join" -> "DEFAULT as-of plan is now the custom merge node (front-door dispatch): AsofJoinExec with one exchange per side in its own schema, EnsureRequirements-placed sorts, streaming per-partition merge -- no Union, no Window",
    "asof_bucketed" -> "hot-key escape hatch: the carry exchanges on (key, time-bucket) so one key's sort splits across buckets; unmatched rows resolve via a second as-of on the BUCKET INDEX against the one-row-per-(key,bucket) extreme relation",
    "sessionize_bucketed" -> "two-phase prefix sessionization: per-(key,bucket) windows for the per-row work; cross-bucket state (prev bucket's last ts, cumulative session offsets) rides the tiny bucket relation's own window",
    "upsert_merge" -> "single full-outer discriminant join resolves insert-vs-update",
    "minhash_pairs" -> "signatures computed scan-side by MinHashSigExpr (no explode/regroup exchange); only band keys shuffle",
    "embcos_exact" -> "norms once per row; small side broadcast into the non-equi pair join; exact f64 scoring",
    "stratified_topk" -> "per-stratum rank<=k plans a WindowGroupLimit: k rows per group retained BEFORE the exchange",
    "events_interval" -> "banded range join: plain equi-join on (user, time-bin) + in-bin filter, no per-key cartesian",
    "chargram_pairs" -> "single-pass inverted-index self-join (default path); stop-shingle anti join broadcasts only under the measured size gate",
    "pack_sequences" -> "one shard exchange + partition-local sort + O(1)-state scan; no global sort, parallelism = shard count",
    "decontaminate_bloom" -> "bloom might_contain prefilter runs scan-side inside the corpus's WholeStageCodegen; only survivors reach the membership join",
    "pq_topk" -> "PQ-ADC: broadcast per-query LUTs score the (id, codes, norm) scan; bounded shortlist aggregation; exact re-rank joins the tiny shortlist back into one corpus scan",
    "pq_index_topk" -> "persisted IVF-PQ index: the probed cells' files are below the driver gate, so the probe read and scored them on the driver and its answer is a LocalTableScan (no index scan in the plan; the pruned Spark plan above the gate is pinned in SimilaritySpec); the fixture scans feed the brute-force recall check",
    "ivfpq_topk" -> "IVF-PQ composition: probe cells restrict the ADC join on (__cell); shortlist re-ranked exact -- probe-fraction and per-row savings multiply",
    "chargram_lm" -> "model pass map-side combined + TakeOrderedAndProject topV cut; scoring via broadcast model join into the exploded scan, per-doc re-agg partial-aggregated",
    "semdedup_pairs" -> "cluster-then-prune: one cached cell-assignment pass; only (id, cell) keys shuffle into the pair join; per-candidate exact-cosine verify joins payloads by id",
    "knn_join" -> "kNN self-join: both sides shuffle on the cached cell assignment (no corpus broadcast); per-query bounded top-k partial aggregation",
    "heavy_hitters" -> "MG sketch pass reduces map-side to bounded buffers (ObjectHashAggregate over binary state); recount joins the broadcast <=k candidate set -- the vocabulary never shuffles",
    "hll_rollup" -> "per-group DataSketches HLL partial-aggregated map-side; union-merge re-aggregates sketches without re-scanning the fact table",
    "corpus_semdedup" -> "composed semantic curation: quality scored once pre-filter; doc-embedding equi join; cell keys shuffle into the pair join; per-language re-agg partial-aggregated",
    "incremental_dedup" -> "incremental ingest: new-batch band keys join the old+new key union -- the old corpus pays one signature scan, never a self-join; verification joins each side's own cached shingles",
    "containment_pairs" -> "single-pass inverted-index self-join reused for asymmetric containment: both join sides read ONE cached exploded (id, shingle) relation (InMemoryTableScan); per-document set sizes join back onto the aggregated pairs under the size gate instead of riding the exploded rows",
    "gap_fill" -> "resample grid generated scan-side (sequence explode), forward-filled by the DISPATCHED merge as-of join -- one exchange per side, no per-slot range probes",
    "asof_nearest" -> "nearest through the dispatched merge node: backward candidate + unconsumed head give both directions in ONE pass (the window fallback would need two sorts)",
    "asof_merge" -> "WHOLE-OPERATOR physical node (AsofJoinExec via the injected planner strategy): one exchange per side in its own schema + EnsureRequirements-placed sorts + a streaming per-partition merge -- no Union, no Window; left filters/pruning reach the scan through the custom-node optimizer rule",
    "asof_merge_nearest" -> "nearest in the SAME single merge pass (the union-and-carry plan needs two window sorts); backward candidate + unconsumed head give both directions O(1)-state",
    "percentile_rollup" -> "KLL sketches partial-aggregated map-side (ObjectHashAggregate over binary state); the rollup merges stored sketch bytes -- the fact table is rescanned only by the exact-rank verification branches",
    "bpe_tokens" -> "BPE encode runs inside the scan projection (native BpeEncodeExpr, frozen merge table shipped in the plan) -- no model join, no shuffle before the final sort",
    "bpe_budget_select" -> "tokenizer-true budgeting composes scan-side BPE counts with the per-language running-sum window -- one lang_id exchange, identical shape to budget_select",
    "line_dedup" -> "line doc-frequency map-side combined on trimmed-line keys; boilerplate set anti-joined under the measured broadcast gate; reassembly is one doc-id exchange with per-doc sorted collect_list",
    "line_dedup_scan" -> "frozen-model clean is ONE native scan-side projection (BoilerplateFilterExpr, model shipped in the plan): no explode, no join, no exchange before the presentation sort",
    "curriculum_mix" -> "composed curriculum: charLM model broadcast into the scoring scan; per-language ntile window; md5-coin filter scan-side; final mix aggregation partial-aggregated",
    "curriculum_mix_approx" -> "scale-safe curriculum: decile thresholds from ONE approx_percentile aggregation broadcast back into the scan -- bins assigned scan-side, banded coin scan-side, no per-language sort of CORPUS rows anywhere (the ntile swap for unbounded strata; the only Window/Sort runs over the <=10-rows-per-language bin summary)"
  )
}
