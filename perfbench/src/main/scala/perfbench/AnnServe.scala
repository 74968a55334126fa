package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.api.Similarity

/** `ann_serve`: one op is one 16-query top-10 probe of a persisted IVF-PQ
  * index over clustered vectors. One iteration in four, starting with the
  * second, is a write instead: an append of a small batch, then a delete of
  * a few live ids.
  * Set-up builds the index, warms every call up and runs `indexMaintain`
  * once. The benchmark keeps every
  * live vector, so it checks each answer against an exact top-10 it
  * computes itself: every query returns k rows, every returned cosine
  * equals the exact cosine to 1e-6, and no deleted id comes back. Recall
  * is measured at run end over 256 queries. */
final class AnnServe(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._

  private val nVectors = if (ctx.small) 4000 else 10000
  private val dim = 64
  /** Families of ~8 near neighbours: a query's exact top-10 is mostly its
    * family, which a working index finds. */
  private val familySize = 8
  private val nCells = 64
  private val queries = 16
  private val k = 10
  /** Probe widths of the service: 2 of 64 cells, a shortlist of 16·k. */
  private val nProbe = 2
  private val shortlistFactor = 16
  private val writeEvery = 4
  private val appendBatch = 200
  private val deleteBatch = 10

  private var rng: Random = _
  private var path: String = _
  private var centres: Array[Array[Double]] = _
  private val live = mutable.LinkedHashMap.empty[Long, Array[Float]]
  private val deleted = mutable.Set.empty[Long]
  private var nextId = 0L
  private var decision = ""
  private var finalRecall = 0.0
  /** Queries of the end-of-run recall probe. */
  private val recallQueries = 256

  override val kernels: Seq[String] =
    Seq("DotProductExpr", "PqAdcDotExpr", "NearestCellExpr")

  def setup(dir: Path): Unit = {
    rng = new Random(ctx.seed)
    path = dir.resolve("index").toString
    val corpus = ctx.bench("generate") {
      centres = Gen.families(rng, nVectors / familySize, dim)
      (0 until nVectors).foreach(_ => live(newId()) = Gen.near(rng, centres))
      frame(live.toSeq)
    }
    ctx.trace.span("Similarity.ivfPqBuild")(
      Similarity.ivfPqBuild(corpus, "vec", path, nCells = nCells))
    // the first calls of a session are several times slower than the
    // steady state, and probes keep getting faster for a few calls; these
    // are discarded
    probe(); write(); probe(); probe()
    val (_, d) = ctx.trace.span("Similarity.indexMaintain")(
      Similarity.indexMaintain(spark, path, "vec"))
    decision = d
  }

  private def newId(): Long = { nextId += 1; nextId - 1 }

  private def frame(rows: Seq[(Long, Array[Float])]): DataFrame =
    rows.toDF("id", "vec").repartition(4)

  override def mix: Map[String, Int] =
    Map("op" -> (writeEvery - 1), "write" -> 1)

  def step(i: Int): OpRecord =
    if (i % writeEvery == 1) write() else probe()

  /** One write: an append of new vectors, then a delete of live ids. */
  private def write(): OpRecord = {
    val (rows, victims) = ctx.bench("generate")((
      (0 until appendBatch).map(_ => newId() -> Gen.near(rng, centres)),
      rng.shuffle(live.keys.toVector).take(deleteBatch)))
    val df = frame(rows)
    val keys = victims.toDF("id")
    val t0 = System.nanoTime()
    val n = ctx.trace.span(s"${Trace.OpPrefix}write") {
      ctx.trace.span("Similarity.ivfPqAppend")(
        Similarity.ivfPqAppend(df, "vec", path))
      ctx.trace.span("Similarity.indexDelete")(
        Similarity.indexDelete(spark, path, keys))
    }
    val s = (System.nanoTime() - t0) / 1e9
    live ++= rows
    live --= victims
    deleted ++= victims
    val failure =
      if (n != victims.size) Some(s"ann_serve: indexDelete removed $n of ${victims.size}")
      else None
    OpRecord("write", s, 0L, Seq(s), failure)
  }

  private def probe(): OpRecord = {
    val qs = ctx.bench("generate")(
      (0 until queries).map(q => q -> Gen.near(rng, centres)))
    val t0 = System.nanoTime()
    val rows = ctx.trace.span(s"${Trace.OpPrefix}probe")(topK(qs))
    val s = (System.nanoTime() - t0) / 1e9
    val failure = ctx.bench("check")(check(qs.toMap, rows)._1)
    OpRecord("op", s, queries.toLong, Nil, failure)
  }

  private def topK(qs: Seq[(Int, Array[Float])]): Array[(Int, Long, Double)] = {
    val qdf = qs.toDF("qid", "vec")
    val df = ctx.trace.span("Similarity.ivfPqProbeTopK.construct")(
      Similarity.ivfPqProbeTopK(spark, path, qdf, "vec", "id", "qid", k,
        nProbe, shortlistFactor))
    ctx.trace.span("Similarity.ivfPqProbeTopK.action")(
      df.select(col("qid").cast("int"), col("id"), col("cosine"))
        .as[(Int, Long, Double)].collect())
  }

  /** The first problem in a probe's answer, and its mean recall@10. */
  private def check(qs: Map[Int, Array[Float]],
                    rows: Array[(Int, Long, Double)]): (Option[String], Double) = {
    val byQuery = rows.groupBy(_._1)
    val ids = live.keys.toArray
    val vecs = ids.map(live)
    var recallSum = 0.0
    val problems = qs.toSeq.sortBy(_._1).flatMap { case (q, qv) =>
      val got = byQuery.getOrElse(q, Array.empty)
      val exact = exactTopK(qv, ids, vecs)
      recallSum += got.count(r => exact(r._2)).toDouble / k
      if (got.length != k) Some(s"query $q returned ${got.length} of $k")
      else got.collectFirst {
        case (_, id, _) if deleted(id) => s"query $q returned deleted id $id"
        case (_, id, _) if !live.contains(id) => s"query $q returned unknown id $id"
        case (_, id, c) if math.abs(c - cosine(qv, live(id))) > 1e-6 =>
          s"query $q id $id cosine $c, exact ${cosine(qv, live(id))}"
      }
    }
    (problems.headOption.map(p => s"ann_serve: $p"), recallSum / qs.size)
  }

  /** Ids of the k live vectors nearest to `q` by cosine, ties to the
    * lower id. */
  private def exactTopK(q: Array[Float], ids: Array[Long],
                        vecs: Array[Array[Float]]): Set[Long] = {
    val best = new java.util.PriorityQueue[(Double, Long)](k + 1,
      Ordering.by[(Double, Long), (Double, Long)] { case (c, id) => (c, -id) })
    var i = 0
    while (i < ids.length) {
      best.add((cosine(q, vecs(i)), ids(i)))
      if (best.size > k) best.poll()
      i += 1
    }
    Iterator.continually(best.poll()).take(k).map(_._2).toSet
  }

  /** Cosine with the library's arithmetic: float elements widened to
    * double, accumulated left to right. */
  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Checks that the index holds exactly the live ids, then measures
    * recall@10 once over a larger query batch, with every append and
    * delete of the run applied. */
  def finalCheck(): Option[String] = {
    val stored = spark.read.parquet(s"$path/data").select("id").as[Long]
      .collect()
    if (stored.length != live.size || stored.toSet != live.keySet)
      Some(s"ann_serve: index holds ${stored.length} ids, expected ${live.size}")
    else {
      val qs = (0 until recallQueries).map(q => q -> Gen.near(rng, centres))
      val (failure, r) = check(qs.toMap, topK(qs))
      finalRecall = r
      failure
    }
  }

  def recall: Double = finalRecall

  def storeBytesPerRow: Double =
    Disk.usage(path).bytes.toDouble / math.max(1, live.size)

  override def layerExtras: Map[String, Double] =
    Map("Similarity.indexMaintain.decision" ->
      (if (decision.isEmpty) 0.0 else if (decision == "ok") 1.0 else 2.0))

  override def notes: Map[String, String] =
    Map("indexMaintain_decision" -> decision,
      "indexMaintain_decision_code" -> "0 not run, 1 ok, 2 rebuilt")
}
