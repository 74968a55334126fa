package graft

import graft.tools.DevSession

/** Dev smoke main mirroring the driver's t1 check: `entry` must return
  * rows > 0 on sf0.001. */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = DevSession.create()
    val df = SparkEntry.entry(spark)
    df.show(truncate = false)
    println(s"SMOKE rows=${df.count()}")
    spark.stop()
  }
}
