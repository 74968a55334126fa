package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Similarity

/** The ANN-index lifecycle composition — the story the similarity
  * primitives exist for, completing the examples triptych
  * ([[IncrementalIngestExample]] = ingest, [[OptOutExample]] =
  * governance, this = the index that serves retrieval over what they
  * curate):
  *
  *  1. **Build once**: [[Similarity.ivfPqBuild]] persists the index —
  *     the one persisted layout, IVF-PQ: the billion-scale regime where
  *     probes are statically partition-pruned reads of byte codes
  *     (~nProbe/nCells of the data at m bytes per vector), with exact
  *     re-ranked cosines.
  *  2. **Ingest appends in place**: each arriving batch is encoded with
  *     the STANDING quantizer and codebooks ([[Similarity.ivfPqAppend]])
  *     — no refit, no rewrite of standing data; a probe racing the
  *     append sees a consistent smaller index. This is the daily path
  *     for an index whose full rebuild is a 100 TB job.
  *  3. **Nightly maintenance**: [[Similarity.indexMaintain]] reads the
  *     bounded gauges (codebook drift via a size-weighted file sample,
  *     cell skew and growth via directory metadata — never a full scan),
  *     rebuilds under the staged `.rebuilding` fence ONLY when a
  *     measured bound is crossed, and — because a `recallTarget` is
  *     stated — recalibrates both probe widths against the rebuilt index
  *     ([[Similarity.ivfPqCalibrate]]), so the recall contract survives
  *     the rebuild instead of silently degrading with it (SCALEPROBE
  *     `pq_drift`: fixed widths recover only 0.37–0.48 recall after a
  *     drift rebuild; the calibrated widths land back at the 0.9
  *     target).
  *  4. **Query**: [[Similarity.ivfPqProbeTopK]] with default widths —
  *     which ARE the calibrated ones once maintenance has run.
  *
  * Batches can equally arrive from a stream:
  * [[graft.streaming.StreamOps.annAppendSink]] is this ingest day as an
  * epoch-fenced foreachBatch sink — pass `checkpointLocation` so the
  * fence's lineage (the query id) survives restarts, and `strictFence`/
  * `fencePath` where exactly-once matters on object-store-hosted
  * indexes — with the nightly maintain on its own schedule between
  * epochs (pause → maintain → resume from the same checkpoint: the
  * fence survives the rebuild swap, pinned in `StreamAnnIngestSpec`;
  * it must own the index exclusively — the single-writer contract
  * `Similarity.ivfPqMaintain` documents). */
object AnnIngestExample {

  /** What one ingest-day did, for the pipeline's own logging: rows
    * appended, the maintenance decision (`ok` = gauges quiet, `rebuilt`
    * = a measured bound tripped the staged rebuild + recalibration), and
    * the probe widths currently in force (None = uncalibrated defaults). */
  final case class DayReport(appended: Long, layout: String,
                             decision: String,
                             calibrated: Option[(Int, Int)])

  /** One ingest-day against the index at `path`: append the batch with
    * the standing model, then run the nightly composite maintenance with
    * a recall target. */
  def ingestDay(spark: SparkSession, batch: DataFrame, vecCol: String,
                idCol: String, path: String,
                recallTarget: Double = 0.9): DayReport = {
    val n = batch.count()
    Similarity.ivfPqAppend(batch, vecCol, path)
    val (layout, decision) = Similarity.indexMaintain(spark, path, vecCol,
      idCol = idCol, recallTarget = Some(recallTarget))
    DayReport(n, layout, decision,
      Similarity.calibratedPqWidths(spark, path))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val path = java.nio.file.Files
      .createTempDirectory("graft_ann_ingest").resolve("index").toString
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val elem = emb.schema("embedding").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
    val corpus0 = emb.filter(col("vec_id") >= 20)
    Similarity.ivfPqBuild(corpus0, "embedding", path, m = 16, ksub = 16)
    // day 1: an in-distribution batch — the gauges stay quiet, no rebuild
    val day1 = ingestDay(spark,
      corpus0.select((col("vec_id") + 1000000L).as("vec_id"),
        col("embedding")),
      "embedding", "vec_id", path)
    // day 2: a DRIFTED batch (offset distribution — the standing
    // codebooks quantize it badly); the drift gauge trips, the staged
    // rebuild refits everything, and the recall target recalibrates the
    // probe widths against the rebuilt index
    val day2 = ingestDay(spark,
      corpus0.select((col("vec_id") + 2000000L).as("vec_id"),
        transform(col("embedding"), x => (x + lit(8.0)).cast(elem))
          .as("embedding")),
      "embedding", "vec_id", path)
    // query with DEFAULT widths — the calibrated ones after day 2
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val hits = Similarity.ivfPqProbeTopK(spark, path, queries,
      "embedding", "vec_id", "query_id", k = 5).count()
    println(s"ANN_INGEST day1=${day1.decision} day2=${day2.decision} " +
      s"calibrated=${day2.calibrated} hits=$hits path=$path")
    spark.stop()
  }
}
