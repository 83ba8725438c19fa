package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.Suite

/** Shared local SparkSession for specs (one JVM-wide session; suites run
  * sequentially in the forked test JVM). */
trait SparkTestBase { this: Suite =>
  lazy val spark: SparkSession = SparkTestBase.session

  /** Listener-bus drain: listener events arrive asynchronously after the
    * action that posted them returns, so a listener's tally is read through
    * this bounded poll instead of a fixed sleep. Polls `count` until it
    * equals `expected` or, with no expected value, until it has held still
    * for `settleMs`; gives up at `timeoutMs`. Returns the last value read. */
  def awaitCount(count: => Long, expected: Option[Long] = None,
                 settleMs: Long = 200, timeoutMs: Long = 10000): Long = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    var last = count
    var stableSince = System.nanoTime()
    def settled = expected.isEmpty && System.nanoTime() - stableSince >= settleMs * 1000000L
    while (!expected.contains(last) && !settled && System.nanoTime() < deadline) {
      Thread.sleep(10)
      val now = count
      if (now != last) { last = now; stableSince = System.nanoTime() }
    }
    last
  }
}

object SparkTestBase {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
    .getOrCreate()
}
