package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (sf0.001 fixtures), built on
  * the engine's posture ([[Sessions.tuned]]) so specs run the
  * configuration the engine ships with.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Generated classes Janino compiled while `body` ran (cache hits
    * compile nothing), with the body's result.
    */
  def compiling[A](body: => A): (Long, A) = {
    val m = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = m.getCount
    val a = body
    (m.getCount - before, a)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Sessions.tuned(SparkSession.builder()
        .master("local[4]")
        .appName("graft-test")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
