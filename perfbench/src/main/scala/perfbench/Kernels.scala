package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{HashFunctions => H, ImageDHashExpr, TextFunctions => T, VectorExpressions => VX}

/** Kernel phase of the traced run: rows per second of each native Catalyst
  * expression over a generated, cached column, written to the noop sink,
  * once with generated code (the session default) and once interpreted.
  * Interpretation is chosen through session conf only. */
object Kernels {

  private val Reps = 3

  private val interpreted = Map(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  def run(ctx: Ctx, names: Seq[String]): Map[String, (Double, Double)] =
    names.map(n => n -> measure(ctx, n)).toMap

  private def measure(ctx: Ctx, name: String): (Double, Double) = {
    val spark = ctx.spark
    val rng = new scala.util.Random(ctx.seed ^ name.hashCode)
    val scale = if (ctx.small) 0.1 else 1.0
    def rows(n: Int) = math.max(100, (n * scale).toInt)
    val (input, kernel): (DataFrame, Column) = name match {
      case "WordShingleExpr" =>
        (texts(spark, rng, rows(40000)).select(
          T.tokens(lower(col("text"))).as("t")), H.wordShingles(col("t"), 3))
      case "MinHashSigExpr" =>
        (texts(spark, rng, rows(20000)).select(
          H.wordShingles(T.tokens(lower(col("text"))), 3).as("s")),
          H.minHash(col("s"), 64))
      case "ImageDHashExpr" =>
        val pngs = (0 until rows(1500)).map(i => (i, Gen.png(rng, 1)))
        (spark.createDataFrame(pngs).toDF("i", "png"), ImageDHashExpr(col("png")))
      case "DotProductExpr" =>
        (vectors(spark, rng, rows(200000), 64).withColumn("b",
          reverse(col("v"))), VX.dot(col("v"), col("b")))
      case "PqAdcDotExpr" =>
        val m = 8; val ksub = 16
        val lut = Array.fill(m * ksub)(rng.nextGaussian())
        val codes = (0 until rows(400000)).map(_ =>
          Array.fill(m)(rng.nextInt(ksub)))
        (spark.createDataFrame(codes.map(Tuple1(_))).toDF("c"),
          VX.pqAdcDot(col("c"), typedLit(lut), ksub))
      case "NearestCellExpr" =>
        val cents = Array.fill(64)(Array.fill(64)(rng.nextGaussian()))
        (vectors(spark, rng, rows(50000), 64), VX.nearestCell(col("v"), cents))
    }
    val cached = input.persist(StorageLevel.MEMORY_ONLY)
    val n = cached.count()
    def pass(): Double = {
      val t = System.nanoTime()
      cached.select(kernel.as("out")).write.format("noop").mode("overwrite")
        .save()
      (System.nanoTime() - t) / 1e9
    }
    def rate(): Double = { pass(); n / Stats.median(Seq.fill(Reps)(pass())) }
    val gen = rate()
    val saved = interpreted.keys.map(k => k -> spark.conf.getOption(k))
    interpreted.foreach { case (k, v) => spark.conf.set(k, v) }
    val interp =
      try rate()
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    cached.unpersist(blocking = true)
    (gen, interp)
  }

  private def texts(spark: SparkSession, rng: scala.util.Random,
                    n: Int): DataFrame =
    spark.createDataFrame((0 until n).map(i => (i, Gen.text(rng, 80))))
      .toDF("i", "text")

  private def vectors(spark: SparkSession, rng: scala.util.Random, n: Int,
                      dim: Int): DataFrame =
    spark.createDataFrame((0 until n).map(_ =>
      Tuple1(Array.fill(dim)(rng.nextGaussian().toFloat)))).toDF("v")
}
