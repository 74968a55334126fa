package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One finished call the timed loop made: its kind (`op` for the workload's
  * unit operation, `write` for ann_serve's index writes), its latency, the
  * input items it completed (documents, queries or source rows), the
  * latencies of the store/index write calls inside it, and the first output
  * check it failed, if any. */
final case class OpRecord(kind: String, seconds: Double, items: Long,
                          writeSeconds: Seq[Double], failure: Option[String])

/** What every workload hands the timed loop. `setup` builds the fixtures
  * (inputs, stores, indexes) under `dir` and runs the discarded warm-up
  * ops. `step` runs one closed-loop iteration. */
trait Workload {
  def setup(dir: Path): Unit
  def step(i: Int): OpRecord
  /** End-of-run check of the whole state against the generator's model. */
  def finalCheck(): Option[String]
  /** Share of the exact answer returned, over the timed phase. */
  def recall: Double
  /** On-disk bytes under the store or index root divided by live rows. */
  def storeBytesPerRow: Double
  /** Extra per-layer values the traced run reports (decisions, sizes). */
  def layerExtras: Map[String, Double] = Map.empty
  /** Native kernels this workload's hot path runs (kernel phase). */
  def kernels: Seq[String]
  /** How many calls of each kind (`op`, `write`) one steady cycle of the
    * loop makes; `items_per_s` is the cycle's items over the sum of the
    * kinds' median latencies. The timed phase runs at least one cycle, so
    * every kind has a sample on a slow machine. */
  def mix: Map[String, Int] = Map("op" -> 1)
  /** Free-form facts for the artifact (decisions, percentile choices). */
  def notes: Map[String, String] = Map.empty
}

final class Ctx(val spark: SparkSession, val trace: Trace, val seed: Long,
                val small: Boolean) {
  /** Benchmark-side time (input generation and output checks), kept apart
    * from the ops' latencies in every run. */
  val benchSeconds: mutable.Map[String, Double] =
    mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def bench[A](what: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try trace.span(s"bench.$what")(f)
    finally benchSeconds(what) += (System.nanoTime() - t0) / 1e9
  }
}

object Main {

  private val usage =
    "usage: perfbench.Main --workload ann_serve|curate_sync --seed N " +
      "--seconds S --trace 0|1 --workdir DIR [--small]"

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val workload = opts.getOrElse("workload", fail(usage))
    val seed = opts.getOrElse("seed", fail(usage)).toLong
    val seconds = opts.getOrElse("seconds", fail(usage)).toDouble
    val traced = opts.getOrElse("trace", fail(usage)) match {
      case "0" => false
      case "1" => true
      case other => fail(s"--trace must be 0 or 1, got $other")
    }
    val workDir = Path.of(opts.getOrElse("workdir", fail(usage)))
    val small = opts.contains("small")
    require(Set("ann_serve", "curate_sync")(workload),
      s"unknown workload $workload")

    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionSeconds = (System.nanoTime() - t0) / 1e9
    try run(spark, workload, seed, seconds, traced, small, workDir,
      sessionSeconds, cores)
    finally spark.stop()
    sys.exit(0)
  }

  private def run(spark: SparkSession, workload: String, seed: Long,
                  seconds: Double, traced: Boolean, small: Boolean,
                  workDir: Path, sessionSeconds: Double, cores: Int): Unit = {
    val trace = new Trace(spark.sparkContext, traced)
    val ctx = new Ctx(spark, trace, seed, small)
    val w: Workload = workload match {
      case "ann_serve" => new AnnServe(ctx)
      case "curate_sync" => new CurateSync(ctx)
    }

    // set-up once: on this scale the first pass through each Spark code
    // path (class loading, JIT, generated-code compilation) costs several
    // times a warm op, so warm-up ops are part of set-up, and repeating
    // set-up would not fit the run budget
    val dir = Files.createDirectories(workDir.resolve("fixtures"))
    val t = System.nanoTime()
    trace.span("setup")(w.setup(dir))
    val setupS = sessionSeconds + (System.nanoTime() - t) / 1e9
    // benchmark-side time spent during set-up is not part of the timed phase
    ctx.benchSeconds.clear()

    // the traced run traces the first 60 % of its timed phase (which holds
    // ann_serve's first write) and runs the rest untraced, so that it can
    // report tracing overhead from one fixture set
    val tracedShare = 0.6
    val records = mutable.ArrayBuffer.empty[(OpRecord, Boolean)]
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    var i = 0
    val cycle = w.mix.values.sum
    while (System.nanoTime() < deadline || i < cycle) {
      val frac = (System.nanoTime() - start).toDouble / (deadline - start)
      val tracedNow = traced && frac < tracedShare
      if (tracedNow != trace.isEnabled) trace.setEnabled(tracedNow)
      val rec =
        try w.step(i)
        catch {
          case NonFatal(e) =>
            OpRecord("op", Double.NaN, 0L, Nil,
              Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        }
      records += ((rec, tracedNow))
      i += 1
    }
    trace.setEnabled(false)
    val finalFailure =
      try ctx.bench("check")(w.finalCheck())
      catch { case NonFatal(e) => Some(s"final check threw: $e") }

    val all = records.map(_._1).toSeq
    val failed = all.count(_.failure.nonEmpty) + finalFailure.size
    val attempted = all.size
    val ops = all.filter(r => r.kind == "op" && r.failure.isEmpty)
    val opTimes = ops.map(_.seconds)
    // throughput of the steady cycle from each kind's medians: a run holds
    // only a few calls, so a total-items-over-total-time ratio would jump
    // with whether the window happened to end before or after a write
    val ok = all.filter(_.failure.isEmpty)
    def kindMedian(kind: String, f: OpRecord => Double) =
      Stats.median(ok.filter(_.kind == kind).map(f))
    val cycleItems =
      w.mix.map { case (kind, n) => n * kindMedian(kind, _.items.toDouble) }.sum
    val cycleS =
      w.mix.map { case (kind, n) => n * kindMedian(kind, _.seconds) }.sum
    val writes = ok.flatMap(_.writeSeconds)
    val (tailPct, tailS) = Stats.tail(opTimes)

    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_s", Stats.median(opTimes), "s"),
      ("op_tail_s", tailS, "s"),
      ("items_per_s", if (cycleS > 0) cycleItems / cycleS else 0.0, "items/s"),
      ("write_p50_s", Stats.median(writes), "s"),
      ("recall", w.recall, "ratio"),
      ("store_bytes_per_row", w.storeBytesPerRow, "B/row"))

    val (spans, counters) = trace.finish()
    val layer: Seq[(String, Double, String)] =
      if (!traced) Nil
      else {
        def opP50(tracedOps: Boolean) = Stats.median(records.toSeq.collect {
          case (r, t) if t == tracedOps && r.kind == "op" &&
            r.failure.isEmpty => r.seconds })
        Layers.metrics(spans, counters, w.layerExtras,
          Kernels.run(ctx, w.kernels), opP50(true) - opP50(false))
      }

    val failures = all.flatMap(_.failure) ++ finalFailure
    Artifact.write(workDir, workload, seed, traced, Map(
      "cores" -> cores.toString,
      "session_start_s" -> sessionSeconds.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "fail_frac" -> (failed.toDouble / math.max(1, attempted)).toString,
      "op_tail_percentile" -> tailPct,
      "op_samples" -> opTimes.size.toString,
      "op_latencies_s" -> opTimes.map(t => f"$t%.3f").mkString(","),
      "write_latencies_s" -> writes.map(t => f"$t%.3f").mkString(","),
      "write_samples" -> writes.size.toString,
      "bench_generate_s" -> ctx.benchSeconds("generate").toString,
      "bench_check_s" -> ctx.benchSeconds("check").toString,
      "failures" -> failures.take(20).mkString(" | ")) ++ w.notes,
      e2e ++ layer, spans, counters)

    failures.take(20).foreach(f => System.err.println(s"perfbench: FAILED $f"))
    val metrics = if (traced) layer else e2e
    println(Json.result(failures.isEmpty, attempted, failed, metrics))
  }

  private def parseArgs(args: Array[String]): Map[String, String] = {
    val out = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (!a.startsWith("--")) fail(s"unexpected argument $a\n$usage")
      if (a == "--small") { out("small") = "1"; i += 1 }
      else {
        if (i + 1 >= args.length) fail(s"$a needs a value\n$usage")
        out(a.drop(2)) = args(i + 1)
        i += 2
      }
    }
    out.toMap
  }

  private def fail(msg: String): Nothing = {
    System.err.println(msg)
    sys.exit(2)
  }
}
