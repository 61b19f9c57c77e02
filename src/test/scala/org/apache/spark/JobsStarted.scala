package org.apache.spark

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The jobs a block of code starts, seen through a SparkListener. Listener
  * events arrive asynchronously; draining the listener bus (private to
  * this package) before the listener is removed makes the list exact. */
object JobsStarted {
  /** Runs `body` and returns its result with every job started meanwhile,
    * in start order. `onStart` sees each job as it starts (it may cancel
    * it); the list is complete even when `body` throws. */
  def during[T](sc: SparkContext,
      onStart: SparkListenerJobStart => Unit = _ => ())(
      body: => T): (Either[Throwable, T], Seq[SparkListenerJobStart]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      SparkListenerJobStart]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        seen.add(e)
        onStart(e)
      }
    }
    sc.addSparkListener(l)
    try {
      val out = try Right(body) catch { case t: Exception => Left(t) }
      sc.listenerBus.waitUntilEmpty()
      (out, seen.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }

  /** The description a job was started with ("" when none). */
  def description(e: SparkListenerJobStart): String =
    Option(e.properties).flatMap(p =>
      Option(p.getProperty(SparkContext.SPARK_JOB_DESCRIPTION))).getOrElse("")

  /** The SQL execution a job belongs to, when it belongs to one. */
  def executionId(e: SparkListenerJobStart): Option[String] =
    Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.sql.execution.id")))
}
