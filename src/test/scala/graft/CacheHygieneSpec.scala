package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

class CacheHygieneSpec extends AnyFunSuite {
  import TestSpark._

  private def cachedLevel(df: org.apache.spark.sql.DataFrame): StorageLevel =
    df.storageLevel

  private def pollUntilReleased(df: org.apache.spark.sql.DataFrame): Boolean = {
    // unpersist rides the async listener bus; poll briefly
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (cachedLevel(df) != StorageLevel.NONE && System.nanoTime() < deadline)
      Thread.sleep(100)
    cachedLevel(df) == StorageLevel.NONE
  }

  test("release waits for the CONSUMING query, not just any action " +
      "(end-of-r8 ADVICE)") {
    import spark.implicits._
    val cached = Seq(1, 2, 3).toDF("x").persist(StorageLevel.MEMORY_AND_DISK)
    cached.count() // materialize the cache
    CacheHygiene.unpersistAfterNextAction(cached)
    // interleaved UNRELATED actions — the sharp edge the old listener had:
    // it fired on the very next session action, dropping the cache before
    // the one real consumer ran
    spark.range(100).selectExpr("sum(id)").collect()
    Seq(("other", 1L)).toDF("s", "n").count()
    Thread.sleep(500) // let the listener bus drain the unrelated events
    assert(cachedLevel(cached) != StorageLevel.NONE,
      "cache was released by a query that never read it")
    // the consuming query (its plan contains the cached subtree) releases
    assert(cached.groupBy("x").count().count() == 3)
    assert(pollUntilReleased(cached),
      "cache not released after the consuming query completed")
  }

  test("an action that ran before registration is not the consumer, even " +
      "while its end event is still queued") {
    import spark.implicits._
    val cached = Seq(4, 5, 6).toDF("z").persist(StorageLevel.MEMORY_AND_DISK)
    // hold the shared listener queue, which delivers query end events to
    // QueryExecutionListeners, until the release is registered
    val gate = new CountDownLatch(1)
    val holder = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        gate.await(30, TimeUnit.SECONDS); ()
      }
    }
    spark.sparkContext.addSparkListener(holder)
    try {
      cached.count() // materialize the cache; its end event stays queued
      CacheHygiene.unpersistAfterNextAction(cached)
    } finally {
      gate.countDown()
      spark.sparkContext.removeSparkListener(holder)
    }
    org.apache.spark.ListenerBusAccess.drain(spark.sparkContext)
    assert(cachedLevel(cached) != StorageLevel.NONE,
      "cache was released by the action that materialized it")
    assert(cached.groupBy("z").count().count() == 3)
    assert(pollUntilReleased(cached),
      "cache not released after the consuming query completed")
  }

  test("one-shot: a second consuming query recomputes without error") {
    import spark.implicits._
    val cached = Seq(10, 20).toDF("y").persist(StorageLevel.MEMORY_AND_DISK)
    CacheHygiene.unpersistAfterNextAction(cached)
    assert(cached.count() == 2)
    assert(pollUntilReleased(cached))
    // persisted plans recompute transparently after release
    assert(cached.agg(org.apache.spark.sql.functions.sum("y"))
      .head().getLong(0) == 30L)
  }
}
