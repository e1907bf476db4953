package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbridge.Bus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (Spark session startup
  * dominates test wall-time; suites must not stop() it).
  */
object TestSpark {
  lazy val spark: SparkSession = Session.local(2)

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Number of Spark jobs `f` starts. The bus is drained before the
    * listener is added and after `f` returns, so earlier jobs are not
    * counted and none of `f`'s are missed.
    */
  def jobsDuring(f: => Any): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    Bus.drain(sc)
    sc.addSparkListener(listener)
    try { f; Bus.drain(sc); jobs.get }
    finally sc.removeSparkListener(listener)
  }
}
