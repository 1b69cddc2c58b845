package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's default test execution), built by the same
  * factory the mains use. */
object TestSession {
  lazy val spark: SparkSession = Graft.session("local[4]", 4)
  /** The session's metrics listener, attached on first use. */
  lazy val metrics: Metrics = Metrics.attach(spark)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = TestSession.spark
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"

  /** Runs `body` with the session conf `key` set to `value`, and
    * restores the previous setting. */
  def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** `body`'s result and the number of Spark jobs started while it ran
    * (the listener bus is drained before and after). */
  def jobsDuring[T](body: => T): (T, Int) = {
    val m = TestSession.metrics
    val s0 = m.snapshot()
    val r = body
    (r, m.since(s0).jobs.toInt)
  }
}
