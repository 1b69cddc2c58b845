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

  /** Runs `body` under the RocksDB state store provider, which
    * `transformWithState` requires, and restores the previous setting. */
  def withRocks[A](body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
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
