package org.apache.spark

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The job tags (`spark.job.tags`) of every Spark job `body` submits,
  * read from the job-start events. It lives in Spark's package because
  * draining the asynchronous listener bus — so that every event of the
  * body has arrived, and none from before it — is package-private.
  */
object JobTagsOf {
  def apply(sc: SparkContext)(body: => Unit): Seq[Set[String]] = {
    val seen = new ConcurrentLinkedQueue[Set[String]]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
          .fold(Set.empty[String])(_.split(",").filter(_.nonEmpty).toSet))
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      body
      sc.listenerBus.waitUntilEmpty()
    } finally sc.removeSparkListener(listener)
    seen.asScala.toSeq
  }
}
