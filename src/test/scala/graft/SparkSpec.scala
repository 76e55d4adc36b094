package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** One shared local session for the whole forked test JVM. */
trait SparkSpec { self: Suite =>
  lazy val spark: SparkSession = SparkSpec.session

  /** Runs `body` with the session confs `pairs` set, then restores them. */
  def withConf[T](pairs: (String, String)*)(body: => T): T = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The Spark jobs `body` starts, counted once the listener bus drains. */
  def jobsDuring(body: => Unit): Long = {
    val sc = spark.sparkContext
    org.apache.spark.GraftListenerBus.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(l)
    try { body; org.apache.spark.GraftListenerBus.drain(sc); jobs.get }
    finally sc.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = graft.GraftSession.local(4, "graft-test")
}
