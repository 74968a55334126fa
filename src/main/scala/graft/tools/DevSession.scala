package graft.tools

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory for the driver and dev mains (`Bench`,
  * `Verify`, `Smoke`, `ScaleProbe`, `Dev`): `local[cpus]` with as many
  * shuffle partitions, UTC session time zone, `nanosAsLong` for
  * timestamp[ns] fixtures, no UI and WARN logs. The core count is
  * `SPARK_GRAFT_CPUS`, falling back to the machine's core count.
  * `Main` and the examples build their own session: their master
  * (`SPARK_MASTER`) is a deployment setting.
  */
object DevSession {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def create(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warm JIT, codegen and the parquet reader once, so the first timed
    * query does not absorb JVM start-up cost (`Bench`, `Dev profile`). */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(0, 1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
  }
}
