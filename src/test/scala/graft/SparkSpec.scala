package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session (one per suite, lazily created) built by the
  * production [[GraftSession.builder]] at 4 cores, so the suites run
  * the engine's own session conf.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
