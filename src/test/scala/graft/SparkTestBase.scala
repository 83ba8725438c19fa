package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener
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

  /** Runs `run` and returns the table dir name and query execution of every
    * parquet write it executed, in order. `last` names the run's final
    * table: the listener bus delivers in order, so once that write is seen
    * every earlier one has been. */
  def tableWrites[T](last: String)(run: => T): (T, Seq[(String, QueryExecution)]) = {
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand => c.outputPath.getName }
          .foreach(name => writes.add(name -> qe))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val res = run
      import scala.jdk.CollectionConverters._
      awaitCount(writes.asScala.count(_._1 == last).toLong, expected = Some(1L))
      (res, writes.asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
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
