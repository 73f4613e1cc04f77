package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps the
  * test run fast), built by the same factory as the mains. */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4, logLevel = "ERROR",
    conf = Map("spark.app.name" -> "graft-test"))
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** `body`'s result and the number of Spark jobs it launched. Jobs are
    * told apart by a local property set on this thread (Spark copies it
    * to the threads it starts for a query), so jobs of anything else
    * running in the JVM are not counted. */
  def jobsIn[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.test.jobsIn"
    val tag = java.util.UUID.randomUUID().toString
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(key) == tag))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      val r = body
      org.apache.spark.TestListenerBus.drain(sc)
      (r, n.get)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}
