package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile that has at least ten samples beyond it, with
    * the name of that percentile. Below 20 samples no percentile above
    * the median qualifies, so the maximum is reported and named as such. */
  def tail(xs: Seq[Double]): (String, Double) =
    if (xs.isEmpty) ("none", 0.0)
    else {
      val s = xs.sorted
      val n = s.size
      if (n < 20) (s"max of $n", s.last)
      else {
        val j = n - 10 // 1-based rank with exactly ten samples above it
        (f"p${100.0 * j / n}%.1f of $n", s(j - 1))
      }
    }
}

/** File-system facts about a store or index root, read from outside. */
object Disk {
  final case class Usage(bytes: Long, files: Long)

  /** Bytes of every file under `root` and the number of parquet data files. */
  def usage(root: String): Usage = {
    val p = Path.of(root)
    if (!Files.exists(p)) Usage(0L, 0L)
    else {
      val s = Files.walk(p)
      val files =
        try { import scala.jdk.CollectionConverters._; s.iterator().asScala.toList }
        finally s.close()
      val regular = files.filter(f => Files.isRegularFile(f))
      Usage(regular.map(f => Files.size(f)).sum,
        regular.count(_.getFileName.toString.endsWith(".parquet")).toLong)
    }
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) =>
      s"${str(n)}: {\"value\": ${num(v)}, \"unit\": ${str(u)}}"
    }.mkString("{", ", ", "}")

  def result(correct: Boolean, attempted: Int, failed: Int,
             ms: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": ${metrics(ms)}}"""
}

/** Run artifact: the summary (every metric plus the facts behind it) and
  * the spans of a traced run, written once the run has ended. */
object Artifact {
  def write(workDir: Path, workload: String, seed: Long, traced: Boolean,
            facts: Map[String, String], ms: Seq[(String, Double, String)],
            spans: Seq[Span], counters: Map[Long, SpanCounters]): Unit = {
    val out = Files.createDirectories(workDir.resolve("artifact"))
    val summary =
      s"""{"workload": ${Json.str(workload)}, "seed": $seed, "trace": ${if (traced) 1 else 0},
         | "facts": ${facts.toSeq.sorted.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ", ", "}")},
         | "metrics": ${Json.metrics(ms)}}
         |""".stripMargin
    Files.write(out.resolve("summary.json"),
      summary.getBytes(StandardCharsets.UTF_8))
    if (traced) {
      val childTime = spans.groupBy(_.parent).map { case (p, cs) =>
        p -> cs.map(_.seconds).sum }
      val lines = spans.map { s =>
        val c = counters.getOrElse(s.id, new SpanCounters)
        val self = s.seconds - childTime.getOrElse(s.id, 0.0)
        s"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "parent": ${s.parent}, "op": ${s.op}, "items": ${s.items}, """ +
          s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}, "self_s": ${Json.num(self)}, """ +
          s""""jobs": ${c.jobs}, "tasks": ${c.tasks}, "shuffle_write_bytes": ${c.shuffleWriteBytes}, """ +
          s""""spill_bytes": ${c.spillBytes}}"""
      }
      Files.write(out.resolve("spans.jsonl"),
        lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
  }
}
