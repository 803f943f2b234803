package org.apache.spark.sql.graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches — a deterministic counter,
  * not a wall time. Each block runs under its own local-property tag,
  * which Spark hands to the threads it runs a query's broadcasts and
  * subqueries on; the listener bus is drained before counting, so
  * every job start the block caused has been seen. */
object JobCount {
  private val Tag = "graft.spec.jobTag"

  private object Seen extends SparkListener {
    val tags = new ConcurrentLinkedQueue[String]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Tag)))
        .foreach(tags.add)
  }

  private var registered = Set.empty[SparkSession]

  /** (the block's value, the jobs it launched) */
  def of[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    synchronized {
      if (!registered(spark)) {
        sc.addSparkListener(Seen)
        registered += spark
      }
    }
    val tag = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(Tag, tag)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, Seen.tags.toArray.count(_ == tag))
    } finally sc.setLocalProperty(Tag, null)
  }
}
