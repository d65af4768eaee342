package org.apache.spark.graft

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Test-only bridge into `private[spark]` surface: lets specs drain the
  * async listener bus so stage-level assertions (e.g. "no GraphX stage ran
  * in this query") observe every event of the job just executed.
  */
object TestSparkInternals {
  def flushListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)

  /** The call sites of the Spark jobs `body` starts on this thread (its
    * jobs are tagged, so no other thread's work counts).
    */
  def jobsStarted(sc: SparkContext)(body: => Unit): Seq[String] = {
    val tag  = s"jobs-started-${java.util.UUID.randomUUID()}"
    val seen = mutable.ArrayBuffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val tags = Option(e.properties).map(_.getProperty(SparkContext.SPARK_JOB_TAGS, "")).getOrElse("")
        if (tags.split(SparkContext.SPARK_JOB_TAGS_SEP).contains(tag))
          seen.synchronized { seen += e.stageInfos.headOption.fold(s"job ${e.jobId}")(_.name); () }
      }
    }
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try { body; flushListenerBus(sc) }
    finally { sc.removeJobTag(tag); sc.removeSparkListener(listener) }
    seen.synchronized(seen.toList)
  }
}
