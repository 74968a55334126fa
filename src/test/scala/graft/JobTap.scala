package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs each named phase of a test body starts. A phase
  * tags its jobs through a local property, so jobs submitted outside the
  * body's phases are not counted. Listener events arrive asynchronously
  * but in order: a final marker job drains them before the counts are
  * read. */
object JobTap {
  private val phaseKey = "graft.spec.phase"
  private val markerPhase = "__marker"

  /** Tags the jobs `body` starts with the phase `name`. */
  final class Phase private[JobTap] (sc: SparkContext) {
    def apply[T](name: String)(body: => T): T = {
      sc.setLocalProperty(phaseKey, name)
      try body finally sc.setLocalProperty(phaseKey, null)
    }
  }

  /** Runs `body` and returns the jobs started per phase; a phase that
    * started none is absent. */
  def count(sc: SparkContext)(body: Phase => Unit): Map[String, Int] = {
    val seen = new ConcurrentLinkedQueue[String]()
    val marker = new CountDownLatch(1)
    val tap = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(phaseKey)))
          .foreach(phase =>
            if (phase == markerPhase) marker.countDown() else seen.add(phase))
    }
    sc.addSparkListener(tap)
    try {
      body(new Phase(sc))
      sc.setLocalProperty(phaseKey, markerPhase)
      sc.parallelize(Seq(1), 1).count()
      require(marker.await(60, TimeUnit.SECONDS),
        "the listener bus did not deliver the marker job within 60 s")
    } finally {
      sc.setLocalProperty(phaseKey, null)
      sc.removeSparkListener(tap)
    }
    seen.asScala.toSeq.groupBy(identity).map { case (p, js) => p -> js.size }
  }
}
