package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session (one per suite, lazily created) configured like the
  * driver's Verify session.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Counts the Spark jobs started on the shared session until closed;
    * `read` drains the listener bus first, so the count is exact. */
  final class JobCounter {
    private val n = new java.util.concurrent.atomic.AtomicInteger
    private val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet(): Unit
    }
    spark.sparkContext.addSparkListener(l)

    def read(): Int = {
      org.apache.spark.sql.graftbridge.ListenerBridge.drain(spark.sparkContext)
      n.get()
    }

    def close(): Unit = spark.sparkContext.removeSparkListener(l)
  }

  /** `body`'s result and the number of Spark jobs it started. */
  def jobsDuring[T](body: => T): (T, Int) = {
    val c = new JobCounter
    try {
      val before = c.read()
      val out = body
      (out, c.read() - before)
    } finally c.close()
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
