package graft

import java.nio.file.Files

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import scala.jdk.CollectionConverters._

/** The ScaleProbe harness without Spark: registry contents, the
  * SCALEPROBE.json merge and the min-of-passes timer. */
class ScaleProbeSpec extends AnyFunSuite with Matchers {

  private val defaultProbes = Set(
    "pair_join_scale", "clusters_chain", "ann_scale", "ivf_recall_curve",
    "ivf_maintain", "ivf_autotune", "pq_drift", "asof_skew",
    "skew_autostrategy", "asof_merge_scale", "cdf_scale", "delete_scale",
    "asof_enrich_stream", "sessionize_stream", "snapshot_cluster",
    "zorder_cluster", "zorder_drift", "zorder_maintain", "zorder_gauge",
    "pq_crossover", "pq_bytes", "line_dedup_scale", "bpe_train",
    "embcos_scale", "semdedup_scale", "minhash_planted_scale", "packing_skew",
    "image_dedup_scale", "shared_spans_scale", "events_scale", "charlm_scale",
    "heavy_hitters_scale", "incremental_dedup_scale", "index_delete_scale")

  test("registry: the 34 default probes plus opt-in core_scaling, no duplicate names") {
    val names = ScaleProbe.registry.map(_.name)
    defaultProbes should have size 34
    names.distinct should have size names.size.toLong
    ScaleProbe.registry.filter(_.default).map(_.name).toSet shouldBe defaultProbes
    val optIn = ScaleProbe.registry.filterNot(_.default).map(_.name)
    optIn should contain("core_scaling")
    optIn should contain("simhash_precision")
    optIn should contain("delete_gate")
    optIn should contain("fingerprint_skew")
  }

  test("writeArtifact creates the file, then replaces only its own key") {
    val dir = Files.createTempDirectory("graft_scaleprobe_spec")
    val path = dir.resolve("SCALEPROBE.json")
    val mapper = new ObjectMapper()
    def read() = mapper.readTree(Files.readAllBytes(path))
    ScaleProbe.writeArtifact(path, "a",
      ScaleProbe.obj("sec" -> 1.5, "rows" -> 3L, "sf" -> "x"))
    read().fieldNames().asScala.toList shouldBe List("a")
    read().get("a").get("sf").asText() shouldBe "x"
    ScaleProbe.writeArtifact(path, "b",
      ScaleProbe.obj("nested" -> ScaleProbe.obj("ok" -> true)))
    ScaleProbe.writeArtifact(path, "a", ScaleProbe.obj("rows" -> 7L))
    val root = read()
    root.fieldNames().asScala.toSet shouldBe Set("a", "b")
    root.get("a").fieldNames().asScala.toList shouldBe List("rows")
    root.get("a").get("rows").asLong() shouldBe 7L
    root.get("b").get("nested").get("ok").asBoolean() shouldBe true
  }

  test("minOfPasses returns the minimum seconds and the first pass's result") {
    val sleepsMs = Iterator(200L, 10L, 100L)
    var pass = 0
    var befores = 0
    val (secs, first) = ScaleProbe.minOfPasses(3, {
      befores += 1
      Thread.sleep(300) // untimed
    }) {
      pass += 1
      Thread.sleep(sleepsMs.next())
      s"pass$pass"
    }
    first shouldBe "pass1"
    befores shouldBe 3
    secs should be >= 0.010
    secs should be < 0.100
  }
}
