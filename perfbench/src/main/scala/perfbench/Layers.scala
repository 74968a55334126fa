package perfbench

/** The per-layer metrics of a traced run. Every metric is printed on every
  * workload: a layer the workload bypasses reads 0, which is the
  * prediction for it. Per-call values are medians over the traced calls of
  * the timed phase; the index build and maintenance, which only set-up
  * makes, are their one set-up call. */
object Layers {

  /** A layer span and the prefix of its time and job-count metrics. */
  private final case class Sp(span: String, prefix: String)

  private val spans: Seq[Sp] = Seq(
    Sp("Dedup.exactByFingerprint.construct", "Dedup.exactByFingerprint.construct_"),
    Sp("Dedup.minHashLsh.construct", "Dedup.minHashLsh.construct_"),
    Sp("Dedup.dropNearDuplicates.construct", "Dedup.dropNearDuplicates.construct_"),
    Sp("Similarity.ivfPqBuild", "Similarity.ivfPqBuild."),
    Sp("Similarity.ivfPqProbeTopK.construct", "Similarity.ivfPqProbeTopK.construct_"),
    Sp("Similarity.ivfPqProbeTopK.action", "Similarity.ivfPqProbeTopK.action_"),
    Sp("Similarity.ivfPqAppend", "Similarity.ivfPqAppend."),
    Sp("Similarity.indexDelete", "Similarity.indexDelete."),
    Sp("Similarity.indexMaintain", "Similarity.indexMaintain."),
    Sp("Select.jdbc", "Select.jdbc_read_"),
    Sp("SnapshotStore.upsert", "SnapshotStore.upsert."),
    Sp("SnapshotStore.changes", "SnapshotStore.changes."),
    Sp("SnapshotStore.delete", "SnapshotStore.delete."),
    Sp("SnapshotStore.compact", "SnapshotStore.compact."),
    Sp("SnapshotStore.vacuum", "SnapshotStore.vacuum."),
    Sp("JdbcUpsert.write", "JdbcUpsert.write."))

  private val setupOnly = Set("Similarity.ivfPqBuild", "Similarity.indexMaintain")

  /** Values a workload measures itself; absent ones read 0. */
  val extraNames: Seq[(String, String)] = Seq(
    "Similarity.indexMaintain.decision" -> "code",
    "SnapshotStore.upsert.bytes_written" -> "B",
    "SnapshotStore.upsert.files_written" -> "count",
    "SnapshotStore.upsert.buckets_touched_frac" -> "ratio")

  val kernelNames: Seq[String] = Seq("WordShingleExpr", "MinHashSigExpr",
    "ImageDHashExpr", "DotProductExpr", "PqAdcDotExpr", "NearestCellExpr")

  def metrics(all: Seq[Span], counters: Map[Long, SpanCounters],
              extras: Map[String, Double],
              kernelRows: Map[String, (Double, Double)],
              overheadS: Double): Seq[(String, Double, String)] = {
    val byId = all.map(s => s.id -> s).toMap
    def root(s: Span): Span =
      if (s.parent == 0L) s else root(byId(s.parent))
    val inSetup = all.filter(s => root(s).name == "setup")
      .map(_.id).toSet
    def calls(name: String): Seq[Span] = all.filter(s => s.name == name &&
      (inSetup(s.id) == setupOnly(name)))
    def count(s: Span): SpanCounters =
      counters.getOrElse(s.id, new SpanCounters)
    def med(xs: Seq[Double]) = Stats.median(xs)

    val perSpan = spans.flatMap { case Sp(name, prefix) =>
      val cs = calls(name)
      Seq(
        (s"${prefix}s", med(cs.map(_.seconds)), "s"),
        (s"${prefix}jobs", med(cs.map(count(_).jobs.toDouble)), "count"),
        (s"$name.shuffle_write_bytes",
          med(cs.map(count(_).shuffleWriteBytes.toDouble)), "B"),
        (s"$name.spill_bytes", med(cs.map(count(_).spillBytes.toDouble)), "B"))
    }

    // probe tasks: construction and action of one probe together
    val probeTasks = {
      val construct = calls("Similarity.ivfPqProbeTopK.construct")
      val action = calls("Similarity.ivfPqProbeTopK.action")
        .map(s => s.op -> count(s).tasks).toMap
      med(construct.map(c => (count(c).tasks + action.getOrElse(c.op, 0L))
        .toDouble))
    }
    def rate(name: String): Double =
      med(calls(name).filter(_.seconds > 0).map(s => s.items / s.seconds))

    val ops = all.filter(s => s.name.startsWith(Trace.OpPrefix) &&
      !inSetup(s.id))
    val childTime = all.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.seconds).sum }
    val opCovered = ops.map(o => childTime.getOrElse(o.id, 0.0))

    perSpan ++ Seq(
      ("Similarity.ivfPqProbeTopK.tasks", probeTasks, "count"),
      ("Select.jdbc_rows_per_s", rate("Select.jdbc"), "rows/s"),
      ("JdbcUpsert.write.rows_per_s", rate("JdbcUpsert.write"), "rows/s")) ++
      extraNames.map { case (n, u) => (n, extras.getOrElse(n, 0.0), u) } ++
      kernelNames.flatMap { k =>
        val (gen, interp) = kernelRows.getOrElse(k, (0.0, 0.0))
        Seq((s"functions.$k.rows_per_s", gen, "rows/s"),
          (s"functions.$k.rows_per_s_interp", interp, "rows/s"))
      } ++ Seq(
        ("bench.generate.s", med(calls("bench.generate").map(_.seconds)), "s"),
        ("bench.check.s", med(calls("bench.check").map(_.seconds)), "s"),
        ("op.self_s", med(ops.zip(opCovered).map { case (o, c) =>
          o.seconds - c }), "s"),
        ("trace.op_coverage_frac", med(ops.zip(opCovered).map { case (o, c) =>
          if (o.seconds > 0) c / o.seconds else 0.0 }), "ratio"),
        ("trace.overhead_s", overheadS, "s"))
  }
}
